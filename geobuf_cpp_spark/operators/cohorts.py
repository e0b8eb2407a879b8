"""Cohort retention — the activity-over-time matrix behind every
engagement dashboard.

cohort(user) = the week of the user's first activity; retention(c, k) =
how many of cohort c's users were active in week c+k. Two aggregations:

  1. per (user, week) distinct activity  — one (user, week) shuffle,
     map-side combinable;
  2. first-week window min per user, broadcast back onto the activity
     rows (AQE broadcasts the per-user cohort table when it fits; at
     10^9 users it degrades to a user-key shuffle join), then a
     (cohort_week, k) count distinct.

Weeks are integer epoch-week buckets (floor(epoch_s / 604800)) — exact
BIGINT arithmetic, portable to the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

WEEK_S = 7 * 24 * 3600


def cohort_retention(events: DataFrame) -> DataFrame:
    """(cohort_week, k, n_users): users of cohort_week active k weeks on.

    k = 0 rows give cohort sizes (every user is active in their first
    week by construction).
    """
    weeks = events.select(
        F.col("user_id").alias("entity"),
        F.floor(F.unix_timestamp("ts") / WEEK_S).cast("long").alias("week"),
    ).distinct()
    first = weeks.groupBy("entity").agg(F.min("week").alias("cohort_week"))
    joined = weeks.join(first, "entity").select(
        "entity", "cohort_week",
        (F.col("week") - F.col("cohort_week")).alias("k"),
    )
    return joined.groupBy("cohort_week", "k").agg(
        F.count("*").cast("long").alias("n_users")
    )


def markov_transitions(events_df: DataFrame) -> DataFrame:
    """First-order Markov transition counts over per-entity event
    streams — the behavioral-analytics rollup ("after a click, what
    happens next?") and the `od_matrix` shape applied to states instead
    of zones.

    Consecutive events of the same entity (ordered by timestamp, ties
    broken by the id column — a total, cross-engine-deterministic
    order) emit one (from_state, to_state) observation, self-loops
    INCLUDED (state persistence is signal here, unlike zone stays).
    ``from_total`` repeats the from-state's total outgoing count on
    every row, so a caller gets the exact transition probability
    num/den pair without a second query. Output: (from_state,
    to_state, n_transitions, from_total).

    Plan: one entity-key exchange + lag window (spillable per-partition
    sort), a map-side-combined groupBy on the state pair (bounded by
    |states|^2), then a window-free broadcast-sized self-agg join for
    the totals."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = (
        events_df.select("user_id", "ts", "event_id",
                         F.col("event_type").alias("to_state"))
        .withColumn("from_state", F.lag("to_state").over(w))
        .filter(F.col("from_state").isNotNull())
    )
    pairs = t.groupBy("from_state", "to_state").agg(
        F.count("*").cast("long").alias("n_transitions"))
    totals = pairs.groupBy("from_state").agg(
        F.sum("n_transitions").cast("long").alias("from_total"))
    return pairs.join(F.broadcast(totals), "from_state").select(
        "from_state", "to_state", "n_transitions", "from_total")


def cusum_changepoint(events_df: DataFrame) -> DataFrame:
    """Per-group CUSUM change-point scan over hourly counts, exact
    integers end to end — the drift detector a data-quality dashboard
    runs per source/event stream (where did the rate break?).

    With hourly counts c_1..c_n (observed hours only, in hour order)
    and total T = sum c_i, the mean-centered cumulative sum scaled by n
    is  s_h = sum_{i<=h} (n*c_i - T)  — integer-exact (no mean
    division; s_h = n * classic CUSUM). The change-point estimate is
    the hour maximizing |s_h| (ties -> earliest hour), the standard
    CUSUM argmax. Emits (group, n_hours, total, peak_hour epoch-hours,
    peak_s signed) — every column a BIGINT both engines reproduce.

    Plan: one (group, hour) map-side-combined count, a 1-row-per-group
    totals join, a group-keyed running-sum window (spillable sort on
    bounded hours-per-group), and a group-keyed max(struct) — the
    argmax needs no second window pass.
    """
    hours = events_df.select(
        "event_type",
        # integer div on positive epochs: Spark `div` == DuckDB `//`
        F.expr("unix_timestamp(ts) div 3600").alias("hour"),
    ).groupBy("event_type", "hour").agg(F.count("*").alias("c"))
    tot = hours.groupBy("event_type").agg(
        F.sum("c").alias("total"),
        F.count("*").alias("n_hours"),
    )
    w = (Window.partitionBy("event_type").orderBy("hour")
         .rowsBetween(Window.unboundedPreceding, 0))
    s = (
        hours.join(tot, "event_type")
        .withColumn(
            "s", F.sum(F.col("c") * F.col("n_hours") - F.col("total"))
            .over(w))
    )
    best = s.groupBy("event_type", "n_hours", "total").agg(
        F.max(F.struct(
            F.abs("s").alias("a"),
            (-F.col("hour")).alias("nh"),
            F.col("s").alias("sv"),
        )).alias("m")
    )
    return best.select(
        "event_type",
        F.col("n_hours").cast("long").alias("n_hours"),
        F.col("total").cast("long").alias("total"),
        (-F.col("m.nh")).cast("long").alias("peak_hour"),
        F.col("m.sv").cast("long").alias("peak_s"),
    )


def session_paths(events_df: DataFrame, gap_seconds: int,
                  min_sessions: int) -> DataFrame:
    """Top behavioral paths: the ordered event-type SEQUENCE of each
    gap-timeout session, counted across sessions — the product-analytics
    "what do users actually do" query (funnels assert a path; this
    discovers them).

    Sessionization is the standard gaps-and-islands cut (lag + running
    sum of gap flags per entity — identical windows in any engine); the
    path string is built order-deterministically: collect the session's
    (epoch, seq, step) structs in one hash agg, array_sort (lexicographic
    on the struct = (ts, seq) order), then project the steps — no
    reliance on collect_list ordering, which Spark does not guarantee.

    Shuffles: the one entity-keyed window shuffle every trajectory pass
    shares, then a session hash agg and a path hash agg. Path strings
    are bounded by session length; ``min_sessions`` prunes the long tail
    of singleton paths (at corpus scale the path distribution is
    Zipfian; the tail is noise).

    Returns (path, n_sessions) with n_sessions >= min_sessions.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("entity").orderBy("e", "seq")
    base = events_df.select(
        F.col("user_id").alias("entity"),
        F.col("event_id").alias("seq"),
        F.floor(F.unix_timestamp("ts").cast("double")).cast("long")
        .alias("e"),
        F.col("event_type").alias("step"),
    )
    flagged = base.withColumn(
        "new_sess",
        F.when(
            F.col("e") - F.lag("e").over(w) > int(gap_seconds), 1
        ).otherwise(0),
    ).withColumn(
        "sess",
        F.sum("new_sess").over(
            w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    paths = (
        flagged.groupBy("entity", "sess")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("e", "seq", "step"))),
                    lambda x: x["step"],
                ),
                ">",
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").cast("long").alias("n_sessions"))
        .filter(F.col("n_sessions") >= int(min_sessions))
    )
