"""Deterministic planted-cluster embeddings, generated IN SQL by both engines.

The driver's embeddings table is isotropic (within-label cosine equals
between-label, measured in round 1), which makes every PRUNED ANN path
data-limited: pruned-probe IVF, hyperplane LSH, and shallow-pool PQ rerank
cannot be oracle-gated on it at their real operating points. This module
plants the corpus shape those paths exist for — ``PLANTED_C`` one-hot
cluster centroids plus tiny deterministic per-(id, dim) noise — as pure
integer arithmetic + IEEE-exact double ops, so Spark and DuckDB generate
the IDENTICAL table from ``range(n)`` and the exact pair set / top-k over
it is a hard cross-engine oracle (the same trick as the media metadata
gates, operators/multimodal.py).

Geometry: centroid of cluster c = one-hot on dim c; noise amplitude 0.01.
Within-cluster cosine ~= 0.9996, cross-cluster <= ~0.04 — a margin that
dwarfs any float-summation drift, so id-set compares are unambiguous, and
the LSH band-miss probability at these angles is ~1e-10 per pair
(deterministic given the seeded hyperplanes; verified empirically).
"""

from __future__ import annotations

PLANTED_N = 640
PLANTED_D = 16
PLANTED_C = 16  # one cluster per dimension; cluster(i) = i % PLANTED_C


def _elem(i: str, j: str) -> str:
    """One embedding component: one-hot(cluster) + hashed noise.

    Every operation is engine-portable: BIGINT products below 2^63, exact
    integer %/-, then ONE correctly-rounded double division and one
    addition — bit-identical in Spark and DuckDB. The integer hash is cast
    to DOUBLE *before* meeting the fractional literal: Spark types a bare
    ``0.01`` as DECIMAL (DuckDB as DOUBLE), so integer-meets-literal
    arithmetic would silently run in decimal and drift at the last ulp.
    """
    return (
        f"(CAST(CASE WHEN {j} = {i} % {PLANTED_C} THEN 1 ELSE 0 END AS DOUBLE) + "
        f"CAST(({i} * 2654435761 + {j} * 40503 + 17) % 2001 - 1000 AS DOUBLE) "
        "/ 100000.0)"
    )


def planted_spark_sql() -> str:
    return (
        "SELECT id AS vec_id, "
        f"transform(sequence(0, {PLANTED_D - 1}), j -> {_elem('id', 'j')}) "
        f"AS embedding FROM range({PLANTED_N})"
    )


def planted_duckdb_sql() -> str:
    return (
        f"WITH ids AS (SELECT range AS i FROM range({PLANTED_N})) "
        "SELECT i AS vec_id, "
        f"list_transform(generate_series(0, {PLANTED_D - 1}), j -> {_elem('i', 'j')}) "
        "AS embedding FROM ids"
    )
