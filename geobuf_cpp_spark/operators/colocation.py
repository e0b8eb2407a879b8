"""Spatiotemporal co-location join — "who was near whom, when".

The contact-tracing / co-movement primitive over a ping stream
(entity, ts, x, y): find all pairs of DISTINCT entities with a ping
pair within Chebyshev distance ``radius`` AND within ``tau`` seconds,
and count the contact events per entity pair. The reference's point
encoding is the storage side of exactly this stream (a geobuf
LineString is a stored trajectory, src/geobuf/geobuf.cpp
populateLine); this operator is the query side no single-node engine
survives at corpus scale — the naive form is an all-pairs join over
10^12 pings.

Plan (the one that lives at 100 TB):

* Block space-time into cells of width ``2*radius`` per axis and
  ``2*tau`` in time. A ping's match ball [p - r, p + r] then spans AT
  MOST TWO blocks per dimension (ball diameter == block width), so the
  probe side replicates to exactly 2x2x2 = 8 candidate blocks —
  computed per ping from which half of its block it sits in, not a
  3x3x3 = 27 neighbor sweep.
* Equi-join probe-replicas against build-side HOME blocks. Each
  ordered ping pair meets exactly once (the build ping has one home
  block), so ``user_a < user_b`` both canonicalizes the unordered pair
  and drops same-entity matches — NO distinct/dedup shuffle.
* The exact predicate (integer Chebyshev + integer epoch delta) runs
  map-side after the join; every surviving row is one contact event,
  aggregated by the entity pair with a map-side partial.

Shuffle volume is O(8 * pings) on a 3-int key, AQE-splittable; the
exact filter is whole-stage-codegen integer arithmetic. Epoch seconds
use floor(): DuckDB's epoch() keeps fractional seconds, Spark's
unix_timestamp truncates — flooring both sides makes |dt| exact and
engine-portable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def colocation_pairs(pings: DataFrame, radius: int, tau: int) -> DataFrame:
    """Contact counts per unordered entity pair.

    Returns (user_a, user_b, n_contacts): user_a < user_b, n_contacts =
    number of ping pairs with max(|dx|, |dy|) <= radius and
    |epoch_a - epoch_b| <= tau. Pings need not be deduplicated; every
    qualifying ping pair counts once.
    """
    r, t = int(radius), int(tau)
    base = pings.select(
        F.col("user_id").alias("u"),
        F.floor(F.unix_timestamp("ts").cast("double")).cast("long")
        .alias("e"),
        F.col("ix").cast("long").alias("x"),
        F.col("iy").cast("long").alias("y"),
    )
    # home block (build side): floor-div by the doubled window. Coords
    # and epochs are non-negative here, so Spark `div` == floor.
    bw_s, bw_t = 2 * r, 2 * t
    build = base.select(
        F.col("u").alias("ub"), F.col("e").alias("eb"),
        F.col("x").alias("xb"), F.col("y").alias("yb"),
        F.expr(f"x div {bw_s}").alias("bx"),
        F.expr(f"y div {bw_s}").alias("by"),
        F.expr(f"e div {bw_t}").alias("bt"),
    )
    # probe side: the ball [v - r, v + r] spans blocks floor((v-r)/w)
    # and floor((v+r)/w) — equal or adjacent since the ball diameter
    # equals the block width. sequence() emits 1 or 2 values per axis,
    # never more: fan-out <= 8, typically < 8 near block centers.
    probe = base.select(
        "u", "e", "x", "y",
        F.expr(f"explode(sequence(greatest((x - {r}) div {bw_s}, 0), "
               f"(x + {r}) div {bw_s}))").alias("bx"),
    ).select(
        "u", "e", "x", "y", "bx",
        F.expr(f"explode(sequence(greatest((y - {r}) div {bw_s}, 0), "
               f"(y + {r}) div {bw_s}))").alias("by"),
    ).select(
        "u", "e", "x", "y", "bx", "by",
        F.expr(f"explode(sequence(greatest((e - {t}) div {bw_t}, 0), "
               f"(e + {t}) div {bw_t}))").alias("bt"),
    )
    hits = (
        probe.join(build, ["bx", "by", "bt"])
        .where(
            (F.col("u") < F.col("ub"))
            & (F.abs(F.col("x") - F.col("xb")) <= r)
            & (F.abs(F.col("y") - F.col("yb")) <= r)
            & (F.abs(F.col("e") - F.col("eb")) <= t)
        )
    )
    return (
        hits.groupBy(
            F.col("u").alias("user_a"), F.col("ub").alias("user_b"))
        .agg(F.count("*").cast("long").alias("n_contacts"))
    )
