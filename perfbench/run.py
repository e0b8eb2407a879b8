"""Layered benchmark of geobuf_cpp_spark. One run = one workload in a fresh
process (and, for Spark workloads, a fresh ``local[nproc]`` session):

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 10 --trace 0

Workloads: ``pipeline``, ``gates_sf0.01``, ``gates_sf0.1``,
``codec_roundtrip`` (see the ``wl_*.py`` modules and ``README.md``).

``--trace 0`` measures the end-to-end metrics with tracing off.
``--trace 1`` repeats the same run with the Spark event log on and every job
tagged with a per-operation job group, condenses the log into one row per
gate or pipeline pass, adds the driver-side layer probes and reports the
per-layer metrics.

Every metric is printed as ``name value unit``; the last stdout line is a
short JSON object (correct, attempted, failed, metrics). The full record,
with host, versions, per-operation rows and checks, goes to
``.perfbench/records/`` in the checkout.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys

import harness as H

WORKLOADS = {
    "pipeline": "wl_pipeline",
    "gates_sf0.01": "wl_gates",
    "gates_sf0.1": "wl_gates",
    "codec_roundtrip": "wl_codec",
}

END_TO_END = {
    "setup_s": "s",
    "op_gmean_ms": "ms",
    "work_per_s": "1/s",
}

# per-operation means over the run's gate calls or pipeline passes
SPARK_LAYERS = {
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "jvm.run_s": "s", "jvm.cpu_s": "s", "jvm.gc_s": "s", "jvm.fetch_wait_s": "s",
    "jvm.shuffle_read_bytes": "bytes", "jvm.shuffle_write_bytes": "bytes",
    "jvm.spill_bytes": "bytes",
    "python.run_s": "s", "python.boot_init_s": "s", "python.bytes_sent": "bytes",
    "python.bytes_received": "bytes", "python.rows_received": "count",
}
PER_LAYER = {
    "session.start_s": "s",
    "sources.input_s": "s",
    "entry.construct_s": "s",
    "entry.construct_jobs": "count",
    "spark.execute_s": "s",
    **SPARK_LAYERS,
    "pip_join.candidates": "count",
    "pip_join.candidates_per_match": "ratio",
    "extract.pages_per_s": "1/s",
    "codec.encode_small_feat_per_s": "1/s",
    "geometry.pip_mask_points_per_s": "1/s",
    "pbf.pack_sint64_Mvals_per_s": "M/s",
    "pbf.unpack_sint64_Mvals_per_s": "M/s",
    "pbf.varint_per_s": "1/s",
    "traced.op_gmean_ms": "ms",
    "traced.work_per_s": "1/s",
}


def detail_unit(name: str) -> str:
    """Unit of a workload figure, from its name's suffix."""
    for suffix, unit in (("Mcoord_per_s", "M/s"), ("kfeat_per_s", "k/s"), ("_per_s", "1/s"),
                         ("_per_coord", "bytes"), ("_mib", "MiB"), ("_s", "s")):
        if name.endswith(suffix):
            return unit
    return "count"


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def end_to_end(res: dict) -> dict:
    ops = res["op_seconds"]
    return {
        "setup_s": res["setup"]["setup_s"],
        "op_gmean_ms": H.geomean(ops) * 1e3,
        "work_per_s": res["work_units"] / sum(ops),
    }


def per_layer(res: dict, spark_rows: dict, e2e: dict, probes: dict) -> dict:
    traced_ops = set(res["spark_rows"])
    rows = [r for r in res["rows"] if r["op"] in traced_ops]
    out = dict.fromkeys(PER_LAYER, 0.0)
    out["session.start_s"] = res["setup"].get("session.start_s", 0.0)
    out["sources.input_s"] = res["setup"]["sources.input_s"]
    out["entry.construct_s"] = mean(r["construct_s"] for r in rows)
    out["entry.construct_jobs"] = mean(r["construct_jobs"] for r in rows)
    out["spark.execute_s"] = mean(r["execute_s"] for r in rows)
    for key in SPARK_LAYERS:
        field = key.removeprefix("spark.")
        out[key] = mean(spark_rows[op][field] for op in res["spark_rows"])
    if "matches" in (rows[0] if rows else {}):  # pipeline passes
        out["pip_join.candidates"] = mean(spark_rows[op]["bhj_rows"] for op in res["spark_rows"])
        # the match count is a checked invariant (see wl_pipeline), kept in
        # the record as ``detail.pip_matches``, not a metric
        matches = mean(r["matches"] for r in rows)
        out["pip_join.candidates_per_match"] = out["pip_join.candidates"] / matches
    out.update(probes)
    out["traced.op_gmean_ms"] = e2e["op_gmean_ms"]
    out["traced.work_per_s"] = e2e["work_per_s"]
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    host = H.host_info()
    work = os.path.join(H.OUT_DIR, f"work-{os.getpid()}")
    args.eventlog_dir = os.path.join(work, "eventlog") if args.trace else None
    sys.path.insert(0, H.ROOT)
    import geobuf_cpp_spark  # noqa: F401  (fails fast outside a full checkout)

    H.prepare_env(work, host)
    module = importlib.import_module(WORKLOADS[args.workload])
    try:
        with H.PeakRss() as rss:
            res = module.run(args, work, host)
        e2e = end_to_end(res)
        res["detail"]["peak_rss_mib"] = rss.peak_mib
        spark_rows, layers = {}, {}
        if args.trace:
            if res["spark_rows"]:
                import eventlog

                condensed = eventlog.condense_logs(args.eventlog_dir)
                spark_rows = {op: eventlog.op_row(condensed, op) for op in res["spark_rows"]}
            import probes

            layers = per_layer(res, spark_rows, e2e, probes.driver_probes(args.seed))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "host": host, "versions": H.versions(),
        "revision": H.source_revision(), "attempted": res["attempted"], "failed": res["failed"],
        "checks": res["checks"], "setup": res["setup"], "detail": res["detail"],
        "work_unit": res["work_unit"], "end_to_end": e2e,
        "op_summary_s": H.summary(res["op_seconds"]),
        "rows": [{**r, **spark_rows.get(r["op"], {})} for r in res["rows"]],
        "per_layer": layers,
    }
    path = H.write_record(record)

    metrics = layers if args.trace else e2e
    units = PER_LAYER if args.trace else END_TO_END
    for name, value in res["detail"].items():
        print(f"{args.workload}.{name} {value:.6g} {detail_unit(name)}")
    print(f"{args.workload}.ops {len(res['op_seconds'])} count")
    print(f"{args.workload}.error_rate {res['failed'] / res['attempted']:.6g} ratio")
    for name, value in metrics.items():
        print(f"{name} {value:.6g} {units[name]}")
    print(f"record {os.path.relpath(path, H.ROOT)}")
    sys.stdout.flush()
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
