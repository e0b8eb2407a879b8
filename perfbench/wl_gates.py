"""``gates_sf0.01`` and ``gates_sf0.1``: cold-memo calls of the frozen gate
lists of ``gatesets.py`` in one fresh session per run.

Set-up reads the table files once, starts a session and runs the gate list
once as a warm-up round: it starts the Python workers and pays the JVM's
class loading and JIT compilation of the gates' code paths (about 1.2-1.7x a
later round, and far more moved by host load). Measured rounds of the gate
list follow until ``--seconds`` have passed (at least ``MIN_ROUNDS``).
Every round reads its own fresh copy of the tables: the engine memoizes
readers, shared subresults and partition probes per session and table
path, so every gate of every round meets cold engine memos as a one-shot
user would. Each gate's timed span is its ``queries()`` call (DataFrame
construction) plus execution to Spark's ``noop`` sink.

Each gate is timed at its fastest measured call: ``op_gmean_ms`` is the
geometric mean of those times and ``work_per_s`` the gates over their sum.
On this kind of shared host a burst of contention can slow a whole round;
the fastest of three cold-memo calls is the steadiest estimate of a gate's
uncontended cost (see ``README.md``). The median and p90 over every
measured call stay in the workload figures. A second session per run does
not fit the suite's time budget, so ``setup_s`` is that of one session,
warm-up round included.

The gate inputs are the frozen tables under ``data/``; the seed does not
apply to them. After the last measured round, every gate's output must
match the DuckDB fingerprint in ``expected/`` (row count, columns, value
hash); a failing call fails in any round. The earlier rounds run the same
calls on identical copies and are not checked: a check re-runs every gate,
about half a round's time, and the suite of runs must fit its budget.
"""

from __future__ import annotations

import json
import os
import shutil

import harness as H
from gatesets import GATES, SF, data_dir, expected_path, fingerprint

MIN_ROUNDS = 3  # measured rounds, after the warm-up round


def read_tables(ddir: str) -> None:
    """Read the frozen table files once, so the session finds them in the
    page cache."""
    for name in sorted(os.listdir(ddir)):
        with open(os.path.join(ddir, name), "rb") as fh:
            while fh.read(1 << 20):
                pass


def run_round(spark, queries, gates, tag: str, src: str, work: str,
              groups) -> tuple[list[dict], dict]:
    """One timed call of every gate on a fresh copy of the tables in
    ``src``; returns the rows and each gate's DataFrame."""
    ddir = os.path.join(work, f"tables-{tag}")
    shutil.copytree(src, ddir)
    rows, frames = [], {}
    for gate in gates:
        op = f"{tag}.{gate}"
        groups.set(op, "construct")
        c0 = H.now()
        try:
            df = queries[gate](spark, ddir)
            c1 = H.now()
            construct_jobs = groups.jobs(op, "construct")
            groups.set(op, "execute")
            df.write.format("noop").mode("overwrite").save()
        except Exception as ex:  # a failing gate is a failed operation
            H.log(f"{op} failed: {type(ex).__name__}: {ex}")
            rows.append({"op": op, "gate": gate, "error": f"{type(ex).__name__}: {ex}"[:500]})
            continue
        c2 = H.now()
        frames[op] = df
        rows.append({"op": op, "gate": gate, "construct_s": c1 - c0,
                     "execute_s": c2 - c1, "total_s": c2 - c0,
                     "construct_jobs": construct_jobs})
    groups.clear()
    return rows, frames


def check(rows: list[dict], frames: dict, expected: dict) -> None:
    """Compare each gate's output with its DuckDB fingerprint."""
    for row in rows:
        if row["op"] not in frames:
            row["ok"] = False
            continue
        got = fingerprint(frames[row["op"]].toPandas())
        row["checked"] = True
        row["ok"] = got == expected[row["gate"]]
        if not row["ok"]:
            row["got"] = got


def run(args, work: str, host: dict) -> dict:
    """A fresh session: set-up with a warm-up round, then measured rounds
    of cold-memo gate calls."""
    import __spark_entry__ as entry

    with open(expected_path(SF[args.workload])) as fh:
        expected = json.load(fh)
    ddir = data_dir(SF[args.workload])
    gates = GATES[args.workload]
    queries = entry.queries()
    t0 = H.now()
    read_tables(ddir)
    t1 = H.now()
    spark = H.start_spark(f"perfbench-{args.workload}", work, args.eventlog_dir)
    t2 = H.now()
    try:
        groups = H.JobGroups(spark, args.trace)
        warm_rows, frames = run_round(spark, queries, gates, "warm", ddir, work, groups)
        t3 = H.now()
        setup = {"setup_s": t3 - t0, "sources.input_s": t1 - t0,
                 "session.start_s": t2 - t1, "warm_round_s": t3 - t2}
        # drop each round's persisted subresults before the next one
        spark.catalog.clearCache()

        rounds = []
        t_end = H.now() + args.seconds
        while True:
            got_rows, frames = run_round(spark, queries, gates, f"r{len(rounds)}",
                                         ddir, work, groups)
            rounds.append(got_rows)
            done = len(rounds) >= MIN_ROUNDS and H.now() >= t_end
            if done:
                check(got_rows, frames, expected)
            spark.catalog.clearCache()
            if done:
                break
    finally:
        H.stop_spark(spark)

    rows = warm_rows + [r for got in rounds for r in got]
    for row in rows:  # only the last round is checked
        row.setdefault("ok", "error" not in row)
    timed = [r for got in rounds for r in got if "total_s" in r]
    per_round = [[r["total_s"] for r in got if "total_s" in r] for got in rounds]
    best = {}  # each gate's fastest measured call
    for r in timed:
        best[r["gate"]] = min(best.get(r["gate"], r["total_s"]), r["total_s"])
    stats = H.summary([r["total_s"] for r in timed])
    return {
        "attempted": len(rows),
        "failed": sum(not r["ok"] for r in rows),
        "checks": {"mismatched": [r["op"] for r in rows if not r["ok"]],
                   "checked": sum(r.get("checked", False) for r in rows)},
        "setup": setup,
        "op_seconds": list(best.values()),
        "work_units": len(best),
        "work_unit": "gates",
        "detail": {"gate_p50_s": stats["p50"], "gate_p90_s": stats["p90"],
                   "gates_total_s": H.median([sum(r) for r in per_round]),
                   "gate_calls": len(timed), "rounds": len(rounds),
                   "construct_total_s": sum(r["construct_s"] for r in timed) / len(rounds)},
        "rows": rows,
        "spark_rows": [r["op"] for r in timed],
    }
