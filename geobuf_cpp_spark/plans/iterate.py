"""Lineage + statistics hygiene for iterative DataFrame loops.

``localCheckpoint`` truncates the LOGICAL plan (the returned frame is a
``LogicalRDD``), but it also copies the checkpointed plan's ESTIMATED
statistics onto that LogicalRDD. In an iterative loop whose body joins
the previous round's frame more than once, the size-only estimator
multiplies those inherited sizes again each round, so the
``sizeInBytes`` BigInt's DIGIT COUNT doubles per round — by round ~25
the driver is grinding multi-million-digit BigInteger multiplications
inside Catalyst's stats visitor and a single ``localCheckpoint`` call
takes minutes (measured: digits 6 -> 11 -> 21 -> 40 -> ... doubling per
round; per-round wall time 0.6s -> 98s by round 18 on a 15k-node
min-label loop).

``loop_checkpoint`` is the per-round discipline that fixes it: take the
local checkpoint, then REBUILD the frame over the same checkpointed
InternalRow RDD via ``internalCreateDataFrame``, which drops the
inherited stats (the new leaf reports the session default size). The
checkpoint is lazy only in name: under AQE, ``localCheckpoint`` and
``toRdd`` plan the frame adaptively, which runs the round's shuffle
stages inside the call; only the final stage waits for the next action.
A loop of R rounds therefore fires its jobs while the DataFrame is being
built and pays the scheduling floor every round (about 0.25 s a round
on 4 cores) even on a tiny graph — which is why the bounded graph loops
(``operators/graph.py``) run graphs of at most ``DRIVER_LOOP_MAX_EDGES``
edge rows on the driver instead. Join strategy inside the
loop is unaffected: the inherited products were astronomically large
anyway, so nothing was broadcastable before and nothing is after; what
changes is that planning cost is now O(1) per round forever.

The rebuild loses the checkpoint's preserved output partitioning, so
use plain ``localCheckpoint`` for ONE-SHOT frames that are partitioned
once and reused read-only across rounds (e.g. a pre-repartitioned edge
list), and ``loop_checkpoint`` for the frames REBUILT every round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.dataframe import DataFrame as _ClassicDataFrame


def loop_checkpoint(df: DataFrame) -> DataFrame:
    """localCheckpoint + stats reset — use on every frame a loop rebuilds
    per round. Under AQE the call runs the frame's shuffle stages. See
    module docstring for why plain localCheckpoint is not enough."""
    ck = df.localCheckpoint(eager=False)
    jdf = ck._jdf
    spark = df.sparkSession
    jrdd = jdf.queryExecution().toRdd()
    jdf2 = spark._jsparkSession.internalCreateDataFrame(
        jrdd, jdf.schema(), False)
    return _ClassicDataFrame(jdf2, spark)
