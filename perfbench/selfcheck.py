"""Fast self-check of the benchmark's own arithmetic: percentiles, rates,
the end-to-end and per-layer folding, and event-log condensing on a canned
tiny log. Needs neither Spark nor the engine:

    python3 perfbench/selfcheck.py
"""

from __future__ import annotations

import math
import os
import sys

import eventlog
import harness as H
import run

HERE = os.path.dirname(os.path.abspath(__file__))


def check(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"selfcheck FAILED: {what}")


def close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)


def check_stats() -> None:
    v = [4.0, 1.0, 3.0, 2.0]
    check(close(H.percentile(v, 50), 2.5), "median of 1..4")
    check(close(H.percentile(v, 25), 1.75), "p25 of 1..4")
    check(close(H.percentile(v, 90), 3.7), "p90 of 1..4")
    check(close(H.percentile([7.0], 90), 7.0), "percentile of one value")
    s = H.summary(list(range(1, 12)))
    check(s["n"] == 11 and close(s["p50"], 6) and close(s["p90"], 10), "summary of 1..11")
    check(close(H.geomean([1.0, 4.0, 16.0]), 4.0), "geometric mean")


def check_condense() -> None:
    rows = eventlog.condense(eventlog.read_events(
        os.path.join(HERE, "selfcheck_data", "tiny_eventlog.jsonl")))
    check(set(rows) == {"pass0|execute", "pass0|construct"}, f"groups {sorted(rows)}")
    ex = rows["pass0|execute"]
    want = {
        "jobs": 1, "stages": 1, "tasks": 2,  # stage 1 was skipped: no tasks
        "jvm.run_s": 4.0, "jvm.cpu_s": 2.0, "jvm.gc_s": 0.05, "jvm.fetch_wait_s": 0.02,
        "jvm.shuffle_read_bytes": 300, "jvm.shuffle_write_bytes": 400,
        "jvm.spill_bytes": 4096,
        "python.run_s": 2.0, "python.boot_init_s": 0.2, "python.bytes_sent": 4000,
        "python.bytes_received": 1000, "python.rows_received": 40,
        "bhj_rows": 150,  # 90 from the first plan, 60 from the AQE re-plan
    }
    for k, v in want.items():
        check(close(ex[k], v), f"execute {k}: {ex[k]} != {v}")
    con = rows["pass0|construct"]
    check(con["jobs"] == 1 and con["tasks"] == 1 and close(con["jvm.run_s"], 0.5)
          and con["python.run_s"] == 0 and con["bhj_rows"] == 0, f"construct row {con}")
    op = eventlog.op_row(rows, "pass0")
    check(op["jobs"] == 1 and op["tasks"] == 2,
          f"op row scheduling {op}")
    check(close(op["jvm.run_s"], 4.5) and close(op["jvm.cpu_s"], 2.25), f"op row work {op}")


def check_metrics() -> None:
    res = {
        "op_seconds": [2.0, 1.0, 3.0],
        "work_units": 300,
        "setup": {"setup_s": 5.0, "session.start_s": 3.0, "sources.input_s": 1.5},
        "rows": [
            {"op": "pass0", "construct_s": 0.1, "execute_s": 1.9, "construct_jobs": 0, "matches": 50},
            {"op": "pass1", "construct_s": 0.3, "execute_s": 0.7, "construct_jobs": 2, "matches": 50},
        ],
        "spark_rows": ["pass0", "pass1"],
    }
    e2e = run.end_to_end(res)
    check(close(e2e["op_gmean_ms"], 1000 * 6 ** (1 / 3)), "op_gmean_ms is the geometric mean op in ms")
    check(close(e2e["work_per_s"], 50.0), "work_per_s is work over summed op time")
    check(set(e2e) == set(run.END_TO_END), "every end-to-end metric present")
    spark = {op: {**dict.fromkeys(eventlog.FIELDS, 0), "jobs": j, "bhj_rows": b}
             for op, j, b in (("pass0", 2, 100), ("pass1", 4, 200))}
    layers = run.per_layer(res, spark, e2e, {"extract.pages_per_s": 9.0})
    check(set(layers) == set(run.PER_LAYER), "every per-layer metric present")
    check(close(layers["entry.construct_s"], 0.2), "construct_s is a per-op mean")
    check(close(layers["entry.construct_jobs"], 1.0), "construct_jobs is a per-op mean")
    check(close(layers["spark.jobs"], 3.0), "spark.jobs is a per-op mean")
    check(close(layers["pip_join.candidates_per_match"], 3.0), "candidates per match")
    check(close(layers["traced.op_gmean_ms"], e2e["op_gmean_ms"]), "traced op latency carried over")
    units = {n: run.detail_unit(n) for n in ("pages_per_s", "gate_p50_s", "gates",
                                             "encode_large_Mcoord_per_s", "peak_rss_mib",
                                             "decode_small_kfeat_per_s", "geobuf_bytes_per_coord")}
    check(units == {"pages_per_s": "1/s", "gate_p50_s": "s", "gates": "count",
                    "encode_large_Mcoord_per_s": "M/s", "peak_rss_mib": "MiB",
                    "decode_small_kfeat_per_s": "k/s", "geobuf_bytes_per_coord": "bytes"},
          f"workload figure units {units}")


def main() -> int:
    check_stats()
    check_condense()
    check_metrics()
    print("selfcheck ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
