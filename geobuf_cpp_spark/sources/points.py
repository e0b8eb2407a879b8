"""Deterministic geo derivations over the driver's TPC-H-ish testdata.

The correctness gate runs each Spark query against DuckDB executing the
oracle SQL on the same parquet files, comparing value hashes — so any
derived coordinate must be the product of *engine-portable* arithmetic:
integer ops plus IEEE double division/subtraction in a fixed order. These
SQL fragments are built once here and consumed verbatim by BOTH sides
(the Spark query via ``selectExpr``/``F.expr`` and the DuckDB oracle by
string substitution), which makes cross-engine drift structurally
impossible rather than merely tested-for.

``orders`` rows become a synthetic point cloud (two coprime multipliers
spread orderkeys over the globe at 0.01° granularity); ``nation`` rows
become 25 disjoint-ish lon/lat boxes for the PIP range join; box centers
double as kNN query sites.
"""

from __future__ import annotations

# one point per order; 0.01-degree lattice, pure integer -> double math
POINT_LON_SQL = "CAST((o_orderkey * 7919) % 36000 AS DOUBLE) / 100.0 - 180.0"
POINT_LAT_SQL = "CAST((o_orderkey * 9973) % 17000 AS DOUBLE) / 100.0 - 85.0"

POINTS_SELECT = (
    "SELECT o_orderkey AS point_id, "
    f"{POINT_LON_SQL} AS lon, {POINT_LAT_SQL} AS lat FROM orders"
)

# nation -> lon/lat boxes: 12 x 9 degrees, half-open [lo, hi)
BOX_LON0_SQL = "CAST((n_nationkey * 89) % 300 AS DOUBLE) - 180.0"
BOX_LAT0_SQL = "CAST((n_nationkey * 53) % 150 AS DOUBLE) - 85.0"
BOX_W = 12.0
BOX_H = 9.0

BOXES_SELECT = (
    "SELECT CAST(n_nationkey AS BIGINT) AS admin_id, "
    f"{BOX_LON0_SQL} AS lon0, {BOX_LAT0_SQL} AS lat0, "
    f"{BOX_LON0_SQL} + {BOX_W} AS lon1, {BOX_LAT0_SQL} + {BOX_H} AS lat1 "
    "FROM nation"
)

# the same boxes on the integer centidegree lattice (lon0 = degrees*100
# as BIGINT-safe ints; pair with IPOINTS ix-18000 / iy-8500) — exact
# integer distance predicates for the nearest-region assignment
IBOXES_SELECT = (
    "SELECT CAST(n_nationkey AS BIGINT) AS admin_id, "
    "CAST(((n_nationkey * 89) % 300 - 180) * 100 AS BIGINT) AS lon0, "
    "CAST(((n_nationkey * 53) % 150 - 85) * 100 AS BIGINT) AS lat0, "
    "CAST(((n_nationkey * 89) % 300 - 180) * 100 + 1200 AS BIGINT) AS lon1, "
    "CAST(((n_nationkey * 53) % 150 - 85) * 100 + 900 AS BIGINT) AS lat1 "
    "FROM nation"
)

# kNN query sites = box centers
QUERIES_SELECT = (
    "SELECT CAST(n_nationkey AS BIGINT) AS query_id, "
    f"{BOX_LON0_SQL} + {BOX_W} / 2.0 AS q_lon, "
    f"{BOX_LAT0_SQL} + {BOX_H} / 2.0 AS q_lat FROM nation"
)


def points_df(spark, sf_dir: str):
    from .readers import sql_df

    return sql_df(spark, sf_dir, POINTS_SELECT, "orders")


def boxes_df(spark, sf_dir: str):
    from .readers import sql_df

    return sql_df(spark, sf_dir, BOXES_SELECT, "nation")


def queries_df(spark, sf_dir: str):
    from .readers import sql_df

    return sql_df(spark, sf_dir, QUERIES_SELECT, "nation")


def boxes_as_wire_polygons(spark, sf_dir: str):
    """The nation boxes as wire-struct Polygons (for the exact PIP path)."""
    import pandas as pd

    b = boxes_df(spark, sf_dir).toPandas()
    return pd.DataFrame(
        {
            "admin_id": b["admin_id"].astype(int),
            "geom": [
                {
                    "type": 4,
                    "dim": 2,
                    "lengths": [5],
                    "coords": [lon0, lat0, lon1, lat0, lon1, lat1,
                               lon0, lat1, lon0, lat0],
                }
                for lon0, lat0, lon1, lat1 in zip(
                    b["lon0"].astype(float), b["lat0"].astype(float),
                    b["lon1"].astype(float), b["lat1"].astype(float))
            ],
        }
    )

# hole inset in degrees (exact integer-valued doubles, same half-open
# convention as the outer ring): hole = [lon0+3, lon0+9) x [lat0+2, lat0+7)
HOLE = (3.0, 9.0, 2.0, 7.0)


def boxes_as_holed_polygons(spark, sf_dir: str, hole=HOLE):
    """The nation boxes as wire Polygons WITH an interior hole ring —
    drives the even-odd multi-ring path of the exact PIP kernel.

    ``hole`` is the (lon_off0, lon_off1, lat_off0, lat_off1) inset; the
    default is the PIP gate's concentric hole, the centroid gate passes
    an OFF-CENTER one so the multi-ring centroid is not just the box
    center."""
    import pandas as pd

    b = boxes_df(spark, sf_dir).toPandas()
    hx0, hx1, hy0, hy1 = hole
    return pd.DataFrame(
        {
            "admin_id": b["admin_id"].astype(int),
            "geom": [
                {
                    "type": 4,
                    "dim": 2,
                    "lengths": [5, 5],
                    "coords": (
                        [lon0, lat0, lon1, lat0, lon1, lat1,
                         lon0, lat1, lon0, lat0]
                        + [lon0 + hx0, lat0 + hy0, lon0 + hx1, lat0 + hy0,
                           lon0 + hx1, lat0 + hy1, lon0 + hx0, lat0 + hy1,
                           lon0 + hx0, lat0 + hy0]
                    ),
                }
                for lon0, lat0, lon1, lat1 in zip(
                    b["lon0"].astype(float), b["lat0"].astype(float),
                    b["lon1"].astype(float), b["lat1"].astype(float))
            ],
        }
    )


# concave test polygons: an 8-vertex star per nation (4 spikes, 4 reflex
# vertices), planted at the nation box center on the integer centidegree
# lattice. Every edge vector has gcd(|dx|, |dy|) = 1, so no open edge
# passes through a lattice point — any lattice point is >= 1/sqrt(359^2
# + 141^2) ~ 1/386 centidegree from every edge, which dwarfs the
# ~1e-11-centidegree float error of the kernel's crossing test: the
# float kernel and the exact-integer oracle provably classify every
# point identically. (141 = round(200/sqrt 2): inner radius 200, outer
# 500; 359 prime, gcd(141, 359) = 1.)
STAR_OFFSETS = [
    (500, 0), (141, 141), (0, 500), (-141, 141),
    (-500, 0), (-141, -141), (0, -500), (141, -141),
]
STAR_CX_SQL = "((n_nationkey * 89) % 300) * 100 + 600"    # lattice ix
STAR_CY_SQL = "((n_nationkey * 53) % 150) * 100 + 450"    # lattice iy


def stars_as_wire_polygons(spark, sf_dir: str, lattice: bool = False):
    """Per-nation CONCAVE star polygons as wire structs (degrees) —
    drives cover_polygon + the ray-crossing refine on reflex vertices
    and slanted edges, which the axis-aligned box corpus never did.

    ``lattice=True`` keeps the coordinates in the raw integer
    centidegree lattice (integer-valued doubles): every shoelace term
    is then exactly representable, which the centroid gate needs —
    degree coords carry the /100 rounding and exactness would depend
    on summation order."""
    import pandas as pd

    from .readers import sql_df

    c = sql_df(
        spark, sf_dir,
        f"SELECT CAST(n_nationkey AS BIGINT) AS admin_id, "
        f"CAST({STAR_CX_SQL} AS BIGINT) AS cx, "
        f"CAST({STAR_CY_SQL} AS BIGINT) AS cy FROM nation", "nation"
    ).toPandas()
    ring = STAR_OFFSETS + STAR_OFFSETS[:1]

    def xy(cx, cy, ox, oy):
        if lattice:
            return float(cx + ox), float(cy + oy)
        return (cx + ox) / 100.0 - 180.0, (cy + oy) / 100.0 - 85.0

    return pd.DataFrame(
        {
            "admin_id": c["admin_id"].astype(int),
            "geom": [
                {
                    "type": 4,
                    "dim": 2,
                    "lengths": [len(ring)],
                    "coords": [
                        v
                        for ox, oy in ring
                        for v in xy(cx, cy, ox, oy)
                    ],
                }
                for cx, cy in zip(c["cx"].astype(int), c["cy"].astype(int))
            ],
        }
    )


# integer centidegree lattice — same spread multipliers, but kept in
# BIGINT space end-to-end so distance predicates are exact cross-engine
# (range join, trajectory steps: no float compare at the boundary)
IPOINT_X_SQL = "(o_orderkey * 7919) % 36000"
IPOINT_Y_SQL = "(o_orderkey * 9973) % 17000"
IPOINTS_SELECT = (
    "SELECT o_orderkey AS point_id, "
    f"{IPOINT_X_SQL} AS ix, {IPOINT_Y_SQL} AS iy FROM orders"
)

# synthetic short segments for the intersection join: endpoints on the
# integer lattice, per-axis extent <= 300 (bounds the blocking cell size)
ISEGS_SELECT = (
    "SELECT o_orderkey AS seg_id, "
    "(o_orderkey * 7919) % 36000 AS ax, "
    "(o_orderkey * 9973) % 17000 AS ay, "
    "(o_orderkey * 7919) % 36000 + (o_custkey * 31) % 601 - 300 AS bx, "
    "(o_orderkey * 9973) % 17000 + (o_orderkey * 17) % 601 - 300 AS by "
    "FROM orders WHERE o_orderkey % 7 = 0"
)

# events as a synthetic ping stream (trajectory workloads): one integer
# lattice point per event, entity = user_id, ordered by (ts, event_id)
IPINGS_SELECT = (
    "SELECT event_id, user_id, ts, "
    "(event_id * 7919) % 36000 AS ix, "
    "(event_id * 9973) % 17000 AS iy FROM events"
)
