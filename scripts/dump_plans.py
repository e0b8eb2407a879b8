"""Regenerate PLANS.md — physical-plan evidence for the scaling claims.

For each claim in SCALING.md there is a greppable physical-plan fact
(broadcast join, pushed filter, pruned read schema, partial aggregation).
This script runs `.explain("formatted")` on the relevant queries and
extracts those lines, so the evidence stays reproducible:

    python scripts/dump_plans.py > PLANS.md
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def plan_text(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def pick(plan: str, patterns: list[str], context: int = 0) -> list[str]:
    out = []
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if any(re.search(p, line) for p in patterns):
            out.extend(lines[max(0, i - context): i + context + 1])
    return out


def section(title: str, claim: str, df, patterns: list[str]) -> None:
    print(f"## {title}\n")
    print(f"{claim}\n")
    plan = plan_text(df)
    hits = pick(plan, patterns)
    print("```")
    for h in dict.fromkeys(hits):  # dedupe, keep order
        print(h.rstrip()[:160])
    print("```\n")


def main() -> None:
    import __spark_entry__ as E
    from geobuf_cpp_spark.session import get_spark

    spark = get_spark("plans", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    print("# PLANS — physical-plan evidence (regenerate: "
          "`python scripts/dump_plans.py > PLANS.md`)\n")
    print(f"Source: `.explain(\"formatted\")` at {SF_DIR}, "
          "extracted lines only; claims cross-reference SCALING.md.\n")

    section(
        "pip_boxes_join — big side never shuffles",
        "One MapInArrow over the points scan finds each point's cell, its "
        "candidate polygons in the covering shipped with the stage, and "
        "refines them exactly: no join and no Exchange anywhere.",
        E.q_pip_boxes_join(spark, SF_DIR),
        [r"MapInArrow", r"Scan parquet", r"Join|Exchange"],
    )
    section(
        "bbox_filter — column pruning on derived coordinates",
        "lon/lat are DERIVED from o_orderkey, so the range filter cannot "
        "push below the projection — but the scan reads exactly one "
        "column and the filter runs inside WholeStageCodegen.",
        E.q_bbox_filter(spark, SF_DIR),
        [r"ReadSchema", r"WholeStageCodegen"],
    )
    section(
        "stored-column filter — predicate pushdown reaches the scan",
        "On stored columns the predicate lands in PushedFilters and the "
        "read schema carries only the projected columns.",
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .filter("n_chars >= 1000").select("doc_id", "n_chars"),
        [r"PushedFilters", r"ReadSchema"],
    )
    section(
        "cell_rollup — salted two-phase aggregation",
        "Two HashAggregate pairs (partial + final) around exchanges keyed "
        "(cell, salt) then (cell): a hot cell's rows fan out before any "
        "single reducer sees them.",
        E.q_cell_rollup(spark, SF_DIR),
        [r"HashAggregate \(", r"hashpartitioning"],
    )
    section(
        "media_stats — payload column pruned from the scan",
        "The aggregation reads kind + meta only; the binary payload never "
        "leaves the generator stage (ReadSchema/project shows no payload).",
        E.q_media_stats(spark, SF_DIR),
        [r"ReadSchema", r"HashAggregate", r"MapInPandas|ArrowEvalPython"],
    )
    section(
        "knn_rings — queries explode, candidates equi-join by cell",
        "The query disks broadcast into a hash join keyed on cell; the "
        "points table is scanned once per branch with no all-pairs join; "
        "the top-k is a bounded window.",
        E.q_knn_rings(spark, SF_DIR),
        [r"BroadcastHashJoin", r"Window", r"RunningWindowFunction|row_number"],
    )
    section(
        "pricing_summary — map-side partial aggregation",
        "partial_count/partial_sum before the exchange: combiner semantics "
        "hold, the shuffle carries one row per (flag, status) per task.",
        E.q_pricing_summary(spark, SF_DIR),
        [r"HashAggregate \(", r"partial_|hashpartitioning"],
    )
    section(
        "asof_view — as-of join with NO join operator",
        "The union + running-window implementation plans ONE hash "
        "exchange on the key and one Window; no Join node exists at all.",
        E.q_asof_view(spark, SF_DIR),
        [r"Window", r"hashpartitioning", r"Join"],
    )
    section(
        "rolling_events — time-RANGE window frame",
        "Trailing-hour counts run as a RANGE frame over integer "
        "microseconds: one key exchange, one windowed pass.",
        E.q_rolling_events(spark, SF_DIR),
        [r"Window", r"RANGE BETWEEN|specifiedwindowframe|hashpartitioning"],
    )
    section(
        "top_docs_per_lang — map-side window group limit",
        "The rank <= k filter pushes into WindowGroupLimit BEFORE the "
        "shuffle (partial) and again after (final): each partition "
        "forwards at most k rows per group, so the per-group top-k never "
        "sorts the corpus on one reducer.",
        E.q_top_docs_per_lang(spark, SF_DIR),
        [r"WindowGroupLimit", r"Window \("],
    )
    section(
        "token_count — whole-stage codegen, no Python",
        "The BPE-ish token counter is a single project over the scan "
        "inside WholeStageCodegen; no Arrow/Python operator appears.",
        E.q_token_count(spark, SF_DIR),
        [r"WholeStageCodegen", r"ReadSchema", r"regexp_count|Project"],
    )
    section(
        "ngram_jaccard — exact dedup with zero Python operators",
        "The shingle inverted index, intersection join, and threshold all "
        "run in WholeStageCodegen; no Arrow/Python stage appears anywhere "
        "in the plan (also asserted in pytest).",
        E.q_ngram_jaccard(spark, SF_DIR),
        [r"WholeStageCodegen", r"HashAggregate \(", r"MapInPandas|ArrowEvalPython|BatchEvalPython"],
    )
    section(
        "embed_neardup — distributed blocked exact, no driver collect",
        "Vectors explode to their block-pair keys (JVM Generate) and meet "
        "in ONE hash exchange on (ka, kb); the matmul runs in "
        "FlatMapGroupsInPandas per group. No CollectLimit / driver "
        "materialization exists in the plan (collect-spy pytest).",
        E.q_embed_neardup(spark, SF_DIR),
        [r"FlatMapGroupsInPandas", r"Generate", r"hashpartitioning", r"Collect"],
    )
    section(
        "lsh_neardup — bucket-keyed candidate join (never all-pairs)",
        "Band signatures shuffle on (band, bucket); candidates join inside "
        "buckets only, then the exact verify is a narrow Arrow stage.",
        E.q_lsh_neardup(spark, SF_DIR),
        [r"hashpartitioning\(band|hashpartitioning\(ka|SortMergeJoin|BroadcastHashJoin", r"MapInPandas"],
    )
    section(
        "range_join — grid-blocked distance join, no cartesian product",
        "The 3x3 neighbor fan-out is a JVM Generate over a narrow key "
        "triple; the candidates meet in ONE equi-join on the cell key "
        "(hash exchange each side, AQE-splittable) and the exact distance "
        "test is a codegen filter. No CartesianProduct / "
        "BroadcastNestedLoopJoin exists — the O(n²) shape the brute-force "
        "oracle pays never appears.",
        E.q_range_join(spark, SF_DIR),
        [r"Generate", r"SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin",
         r"CartesianProduct|NestedLoop"],
    )
    section(
        "trajectory_len — one key exchange, lag window, no join",
        "Track stats plan as a single hashpartitioning on the entity key "
        "followed by Window (lag + row_number share the frame) and a "
        "final aggregate; no Join node, no Python.",
        E.q_trajectory_len(spark, SF_DIR),
        [r"Window", r"hashpartitioning", r"Join"],
    )
    section(
        "chunk_dedup — JVM chunking, digest-keyed global window",
        "Chunk construction is transform/slice inside WholeStageCodegen "
        "(no Python); the first-occurrence rule is ONE exchange on the "
        "chunk digest with a bounded per-key window.",
        E.q_chunk_dedup(spark, SF_DIR),
        [r"Generate", r"hashpartitioning", r"Window",
         r"MapInPandas|ArrowEvalPython|BatchEvalPython"],
    )
    section(
        "ngram_decontaminate — corpus never shuffles, digests broadcast",
        "The held-out gram set reduces to a DISTINCT digest table that "
        "BROADCASTS into a semi join against the training grams; the "
        "contaminated-id set broadcasts again into the anti join. The "
        "training corpus itself is never exchanged.",
        E.q_ngram_decontaminate(spark, SF_DIR),
        [r"BroadcastHashJoin.*LeftSemi|LeftSemi.*Broadcast",
         r"BroadcastHashJoin.*LeftAnti|LeftAnti.*Broadcast", r"Exchange"],
    )
    section(
        "tile_clip — bounded explode, pure arithmetic, no join",
        "Each box generates exactly its own tile span (two nested "
        "Generates), then the clip is codegen min/max arithmetic; no "
        "join, no Python, no shuffle at all.",
        E.q_tile_clip(spark, SF_DIR),
        [r"Generate", r"WholeStageCodegen", r"Join|Exchange"],
    )
    section(
        "pii_scrub — full-corpus regex scan inside codegen",
        "All three count/redact regex passes fuse into one Project over "
        "the scan inside WholeStageCodegen; no Python operator appears.",
        E.q_pii_scrub(spark, SF_DIR),
        [r"WholeStageCodegen", r"ReadSchema",
         r"MapInPandas|ArrowEvalPython|BatchEvalPython"],
    )
    section(
        "cms_sketch — sketch build is one bounded-key exchange, no Python",
        "The counter matrix aggregates map-side first (partial_count "
        "before the Exchange), so the shuffle carries at most "
        "depth*width rows per input partition; bucket hashing is md5 "
        "hex arithmetic inside WholeStageCodegen.",
        E.q_cms_sketch(spark, SF_DIR),
        [r"HashAggregate", r"Exchange", r"WholeStageCodegen",
         r"MapInPandas|ArrowEvalPython|BatchEvalPython"],
    )
    section(
        "kmv_sketch — bottom-k plans as TakeOrderedAndProject",
        "The distinct hash set aggregates map-side, then the global "
        "bottom-k is TakeOrderedAndProject (per-partition local k, "
        "driver merge of k rows per partition) — no full sort, no "
        "corpus-sized shuffle.",
        E.q_kmv_sketch(spark, SF_DIR),
        [r"TakeOrderedAndProject", r"HashAggregate", r"Exchange"],
    )
    section(
        "term_cooccur — persisted incidence, broadcast vocabulary",
        "The corpus explode+distinct is persisted (InMemoryTableScan "
        "feeds vocabulary count and both pair-join sides — one corpus "
        "scan, not four); the top-k vocabulary BROADCASTS into the "
        "incidence filter, and the final pair aggregate is two-phase.",
        E.q_term_cooccur(spark, SF_DIR),
        [r"InMemoryTableScan|InMemoryRelation", r"BroadcastHashJoin",
         r"HashAggregate", r"Scan parquet"],
    )
    section(
        "props_agg — JSON extraction stays in codegen",
        "get_json_object evaluates JVM-side inside WholeStageCodegen "
        "over the scan; only the 5-key two-phase aggregate exchanges.",
        E.q_props_agg(spark, SF_DIR),
        [r"WholeStageCodegen", r"HashAggregate", r"Exchange",
         r"MapInPandas|ArrowEvalPython|BatchEvalPython", r"ReadSchema"],
    )
    section(
        "gapfill_locf — all stages keyed on the series key, no Python",
        "Latest-per-bucket pick and the LOCF carry are two Window "
        "stages over the same key family; the dense range is a "
        "Generate (sequence explode) bounded by span/bucket per key; "
        "no Python operator anywhere.",
        E.q_gapfill_locf(spark, SF_DIR),
        [r"Window", r"Generate", r"Exchange",
         r"MapInPandas|ArrowEvalPython|BatchEvalPython"],
    )
    section(
        "sliding_stats — window() fan-out into one two-phase aggregate",
        "The built-in window generator expands each event into its "
        "win/hop instances (Expand/Generate), then partial_count/"
        "partial_min/partial_max run map-side before the single "
        "exchange; no Python operator.",
        E.q_sliding_stats(spark, SF_DIR),
        [r"Expand|Generate", r"HashAggregate", r"Exchange",
         r"MapInPandas|ArrowEvalPython|BatchEvalPython"],
    )
    section(
        "triangle_count — oriented wedges, no hub blowup",
        "Edges orient by (degree, id) rank before the wedge self-join, "
        "so the join fan-out is bounded by out-degree (O(sqrt m)), not "
        "hub degree; the closing-edge probe is an equi-join; corner "
        "counts aggregate two-phase.",
        E.q_triangle_count(spark, SF_DIR),
        [r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin",
         r"HashAggregate", r"InMemoryTableScan"],
    )
    section(
        "local_volume — 6-way star join, dimension chain broadcasts",
        "Catalyst reorders the star join and broadcasts every dimension "
        "(region/nation/supplier/customer at this SF); at corpus scale "
        "only the orders-lineitem edge would shuffle. Revenue stays in "
        "exact integer units inside codegen.",
        E.q_local_volume(spark, SF_DIR),
        [r"BroadcastHashJoin", r"SortMergeJoin", r"Exchange "],
    )
    section(
        "table_profile — one scan for every column's statistics",
        "The multi-column exact distincts plan as a single Expand over "
        "ONE source scan; the wide aggregate unpivots via Generate "
        "(stack). No per-column re-reads.",
        E.q_table_profile(spark, SF_DIR),
        [r"Expand", r"Scan parquet", r"Generate", r"Exchange"],
    )
    section(
        "token_windows — bounded fan-out chunking, order-exact rebuild",
        "Each token Generates only its containing windows (overlap "
        "ratio, not a self-join); the window text rebuild is an "
        "objHashAggregate over (pos, tok) structs; one grouping "
        "exchange total.",
        E.q_token_windows(spark, SF_DIR),
        [r"Generate", r"Aggregate", r"Exchange",
         r"MapInPandas|ArrowEvalPython|BatchEvalPython"],
    )
    section(
        "nearest_admin — broadcast dimension, corpus never shuffles",
        "The 25-box dimension broadcasts into a nested-loop pairing; "
        "the per-point reduction is min(struct) with a map-side partial "
        "HashAggregate, so the only exchange carries one row per point.",
        E.q_nearest_admin(spark, SF_DIR),
        [r"BroadcastNestedLoopJoin", r"HashAggregate", r"Exchange "],
    )
    section(
        "merge_upsert — changelog replay prunes to one row per key",
        "base ∪ updates with per-key top-1 compiles to WindowGroupLimit "
        "Partial before the key exchange: shuffle volume is O(live "
        "keys), not O(changelog length).",
        E.q_merge_upsert(spark, SF_DIR),
        [r"WindowGroupLimit", r"Exchange ", r"Union"],
    )
    section(
        "quality_deciles — exact global ranks without a global sort",
        "The rank decomposition joins a broadcast value-histogram back "
        "to the corpus; the only corpus-wide window partitions by "
        "value. No single-reducer corpus sort appears anywhere.",
        E.q_quality_deciles(spark, SF_DIR),
        [r"Window", r"BroadcastExchange", r"Exchange hashpartitioning"],
    )
    section(
        "tfidf_topk — term-keyed df join + map-side group limit",
        "tf and df are two-phase hash aggregates; the per-document "
        "top-k prunes map-side via WindowGroupLimit Partial, so the "
        "final shuffle carries at most k rows per document.",
        E.q_tfidf_topk(spark, SF_DIR),
        [r"WindowGroupLimit", r"HashAggregate \(", r"Exchange "],
    )
    section(
        "range_join_wrap — antimeridian ghosts ride the same equi-join",
        "Seam-adjacent build points Generate ±period ghosts (conditional "
        "explode, no re-scan union); the join remains the single "
        "cell-keyed equi-join — no cartesian, no Python.",
        E.q_range_join_wrap(spark, SF_DIR),
        [r"Generate", r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin",
         r"CartesianProduct"],
    )
    section(
        "segment_crossings — grid-blocked pair search, emitted once",
        "Candidates arrive by cell equi-join (never a cartesian); the "
        "smallest-shared-cell rule replaces any DISTINCT; the CLRS "
        "predicate is a pure integer filter.",
        E.q_segment_crossings(spark, SF_DIR),
        [r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin",
         r"CartesianProduct", r"Generate"],
    )
    section(
        "points_near_segments — single-cell points, no dedup operator",
        "Segments explode to radius-expanded bbox cells; points carry "
        "ONE cell each, so qualifying pairs match exactly once — the "
        "plan contains no distinct/aggregate over the pair set.",
        E.q_points_near_segments(spark, SF_DIR),
        [r"Join", r"HashAggregate|Distinct", r"Generate"],
    )
    section(
        "hex_assign — hex binning as one JVM projection",
        "Nearest triangular-lattice center via array_min over 4 exact "
        "integer candidates: no join, no shuffle, no Python operator "
        "anywhere.",
        E.q_hex_assign(spark, SF_DIR),
        [r"Project", r"Exchange |Join",
         r"PythonUDF|ArrowEval|MapInPandas"],
    )
    section(
        "lang_quantiles — exact per-group quantiles, one exchange",
        "Per-(group, value) counts cumulate under two windows sharing "
        "one group-keyed exchange; no per-group sort of raw rows, no "
        "approx sketch.",
        E.q_lang_quantiles(spark, SF_DIR),
        [r"Window", r"Exchange hashpartitioning", r"HashAggregate \("],
    )
    section(
        "label_centroids — drift-free float reduction",
        "posexplode + integer-quantized sums: the centroid numerators "
        "are BIGINT hash-aggregates with map-side partials — "
        "summation-order-free at any partitioning.",
        E.q_label_centroids(spark, SF_DIR),
        [r"HashAggregate \(", r"Generate", r"partial_"],
    )
    section(
        "colocation — space-time blocked equi-join, no distinct",
        "The probe side explodes to <= 8 half-aware blocks (JVM "
        "Generate), meets the build side's home block in ONE hash "
        "exchange on (bx, by, bt), and the exact Chebyshev + time "
        "filter runs map-side in WholeStageCodegen. No "
        "CartesianProduct, no dedup shuffle.",
        E.q_colocation(spark, SF_DIR),
        [r"Generate", r"Exchange hashpartitioning", r"WholeStageCodegen",
         r"SortMergeJoin|ShuffledHashJoin"],
    )
    section(
        "heavy_hitters — bounded candidates, broadcast recount",
        "Pass 1's Misra-Gries summaries are Arrow-batched per "
        "partition; the merged candidate table (<= k rows) BROADCASTS "
        "into the exact recount join, so the vocabulary never "
        "aggregates and the second scan shuffles only candidates.",
        E.q_heavy_hitters(spark, SF_DIR),
        [r"MapInPandas", r"BroadcastHashJoin", r"HashAggregate \("],
    )
    section(
        "union_area — slab sweep as equi-join + partitioned windows",
        "Slab<->rect matching is an equi-join on the x-block key "
        "(no BNLJ/cartesian); the per-slab interval union runs as "
        "windows PARTITIONed by slab (hashpartitioning on sx), so "
        "slabs sweep in parallel.",
        E.q_union_area(spark, SF_DIR),
        [r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin",
         r"Window", r"hashpartitioning\(sx"],
    )
    section(
        "adaptive_tiles — quadtree recursion as ONE join",
        "Points explode to all (max_z+1) ancestor cells (Generate), "
        "one hash aggregate counts every cell, and the split-or-leaf "
        "decision is a single parent-key equi-join + filter — no "
        "driver iteration, no per-level passes.",
        E.q_adaptive_tiles(spark, SF_DIR),
        [r"Generate", r"HashAggregate \(",
         r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin"],
    )
    aqe_skew_section(spark)
    spark.stop()


def aqe_skew_section(spark) -> None:
    """Runtime (not static) evidence: AQE skew-join SPLITS a hot key.

    The scenario lives in plans.aqe_demo and is shared with
    tests/test_spark_pipeline.py::test_aqe_skew_join_splits_hot_key —
    one definition, so the doc and the assertion cannot drift.
    """
    from geobuf_cpp_spark.plans.aqe_demo import run_skew_join_demo

    _, plan = run_skew_join_demo(spark)
    print("## AQE skew join — runtime split of a hot key\n")
    print("One key carries 95% of the left side; the FINAL adaptive "
          "plan (post-execution) shows the skewed sort-merge join and "
          "the split shuffle read (thresholds sandbox-scaled; "
          "mechanism identical at the 256 MB production default).\n")
    print("```")
    for line in plan.splitlines():
        if re.search(r"skew=true|AQEShuffleRead|isFinalPlan", line):
            print(line.rstrip()[:160])
    print("```\n")


if __name__ == "__main__":
    main()
