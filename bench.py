#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.  The full per-query map is also
written to BENCH_FULL.json; the printed line is kept under the
driver's 2000-char stdout tail-capture window (see
format_bench_output) so it always parses.

Each query is executed with a noop-sink action that forces full
materialization without collecting rows to the driver.  The clock
wraps plan BUILD plus execution (some plans run eager stages at build
time — caches are cleared between runs so each run re-pays them), and
each query is measured as the MIN of three consecutive executions: the first execution pays
one-time JVM/codegen/Python-worker warmup plus whatever host-level
noise the measurement VM injects (observed: identical queries swinging
0.2s ↔ 15s between runs on the shared host), the min is the
steady-state cost of the PLAN — which is what regression comparisons
against BASELINE.md are meant to detect.  Set SPARK_GRAFT_BENCH_RUNS=1
for single-shot timing.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline set (BASELINE.md table): reference-surface pipelines +
# the scale-path datapipe operators.
BENCH_QUERIES = [
    "agg1_histogram_hour_utc",
    "agg1_histogram_noids",
    "agg2_sliding_hour_counts",
    "agg3_peak_hour_paris",
    "dst_histogram_hour_paris",  # round-8: DST-boundary rows, synthetic in-plan frame
    "dst_peak_hour_paris",
    "state1_sessions",
    "agg6_session_summaries",
    "state4_debounced_edges",
    "join2_details_star",
    "join5_runway_attribution",
    "snk4_geojson_paths",
    "join4_dedup_latest",
    "tpch_q1_pricing",
    "tpch_q3_shipping",
    "dedup_exact",
    "dedup_minhash_lsh_fast",  # production xxhash64 family (md5 twin is the oracle path)
    "dedup_embedding_lsh",
    "ann_topk_bruteforce",
    "ann_topk_ivf",
    "ann_topk_ivf_pq",  # round-7: residual-int8 coded corpus
    "ann_topk_ivf_pq_store",  # round-11: cell-store build + pruned query
    "text_quality",
    "text_fingerprint",
    "multimodal_decode",
    # round-3 curation additions
    "dedup_clusters",
    "decontaminate_ngram",
    "split_assign",
    "sample_top_per_lang",
    "text_repetition",
    "ann_topk_quantized",
    "dedup_incremental",
    "curate_to_shards",
    "quality_quantile_filter",
    "pack_sequences",
    "mixture_sample",
    "text_scrub",
    "tfidf_top_terms",
    # round-3 temporal joins + chunking/vocab
    "asof_last_error",
    "range_join_error_windows",
    "rollup_time_multigrain",
    "chunk_documents",
    "vocab_top_tokens",
    # round-4 additions
    "corpus_shuffle_shard",
    "vocab_apply_oov",
    "packing_efficiency",
    # round-5 additions
    "passage_mine_top",
    "passage_coverage_filter",
    "passage_mask_digest",
    "semdedup_prune",
    "decontaminate_bloom",
    "mixture_temperature",
    "multimodal_resize",
    "multimodal_features",
    "corpus_diff_status",
    "kmeans_refine",
    "token_zipf",
    "length_buckets",
    "corpus_datacard",
    "forward_fill_reading",
    "rolling_value_avg",
    "gram_novelty",
    "source_overlap",
    "event_transitions",
    "profile_events",
    "session_window_native",
    "collocation_pmi",
    "containment_pairs",
    "quality_percentile",
    "tpch_q14_promo",
    "tpch_q18_large_orders",
    "tpch_q19_or_predicates",
    "cohort_retention",
    "corpus_sample_n",
    "funnel_conversion",
    "pivot_type_by_day",
    "ntile_value_bands",
    "cube_priority_flag",
    "inverted_postings",
    "bm25_search",
    "scd2_doc_intervals",
    "approx_sketch_report",
    "multimodal_frame_sample",
    "tpch_q10_returned_items",
    "tpch_q21_sole_late_supplier",
    "ann_hard_negatives",
    "bm25_rerank",
    "zorder_events_key",
    "zorder_bbox_read",
    "dq_constraints",
    "incremental_histogram_merge",
    "top_journeys",
    "rfm_scores",
    "mad_outliers",
    "pagerank_event_types",
    "stratified_split",
    "funnel_windowed",
]

# Pinned BEFORE the round-12 additions below: the headline set grows
# every round, so raw totals need footnotes to compare.  The printed
# line (and BENCH_FULL.json) also carries ``value_r11_set`` — the
# subtotal over exactly this frozen 97-name round-11 set — whenever a
# run covers all of it, so the first number of a new round is
# comparable to the previous round's at a glance (round-11 verdict #7).
BENCH_R11_SET = frozenset(BENCH_QUERIES)

BENCH_QUERIES += [
    # round-12 additions
    "join5_runway_attribution_grid",  # production grid-cell plan shape
    "ann_topk_ivf_pq_store_append",  # two-batch write+append store build
    "decontaminate_fuzzy",  # near-dup contamination tier (LSH + Jaccard)
    "dedup_keep_best",  # quality-aware duplicate resolution
    "text_token_rarity",  # corpus-self unigram rarity (perplexity proxy)
]

# The round-12 full set, pinned for round-13 comparisons (same
# mechanism as BENCH_R11_SET — append future additions BELOW this
# line and pin a new set alongside).
BENCH_R12_SET = frozenset(BENCH_QUERIES)

BENCH_QUERIES += [
    # round-13 additions
    "embed_then_topk",  # embed-from-text seam + exact cosine retrieve
    "dedup_clusters_incremental",  # batch merge into a persisted map
]

# The round-13 full set, pinned for round-14 comparisons.
BENCH_R13_SET = frozenset(BENCH_QUERIES)

#: (json key, frozen set) pairs emitted by format_bench_output when a
#: run covers the whole pinned set.
PINNED_SETS = (
    ("value_r11_set", BENCH_R11_SET),
    ("value_r12_set", BENCH_R12_SET),
    ("value_r13_set", BENCH_R13_SET),
)


# The verification driver records only the LAST ~2000 characters of
# stdout and parses the final JSON line out of that window.  Once the
# per-query map grew past ~70 entries (round 5) the single line
# exceeded the window, its head was truncated away, and the driver
# recorded `parsed: null` (see BENCH_r05/r06.json) — the totals only
# survived because a judge reconstructed them by hand.  Budget chosen
# under the window with margin for a trailing newline.
STDOUT_LINE_BUDGET = 1900

# Printed-set continuity (round-13 verdict Next #2): the truncated
# stdout line used to keep just the slowest-first subset that fit, so
# a query that got FAST fell out of the printed map and the driver's
# round-over-round PERF marked it `dropped_from_bench` (5 phantom
# drops in PERF_r13).  The names the PREVIOUS round's driver artifact
# printed (BENCH_r13.json) are therefore pinned: they stay in the
# printed map regardless of rank, and only the REMAINING budget is
# filled slowest-first.  Append-only — extend with the new round's
# printed names whenever ranks shift a name in.
PRINTED_CONTINUITY = frozenset({
    "agg1_histogram_hour_utc",
    "agg1_histogram_noids",
    "agg2_sliding_hour_counts",
    "agg3_peak_hour_paris",
    "agg6_session_summaries",
    "ann_topk_bruteforce",
    "ann_topk_ivf",
    "ann_topk_ivf_pq",
    "ann_topk_ivf_pq_store",
    "ann_topk_ivf_pq_store_append",
    "ann_topk_quantized",
    "approx_sketch_report",
    "bm25_rerank",
    "bm25_search",
    "collocation_pmi",
    "containment_pairs",
    "corpus_shuffle_shard",
    "cube_priority_flag",
    "curate_to_shards",
    "decontaminate_bloom",
    "decontaminate_fuzzy",
    "decontaminate_ngram",
    "dedup_clusters_incremental",
    "dedup_embedding_lsh",
    "dedup_incremental",
    "dedup_keep_best",
    "dedup_minhash_lsh_fast",
    "dst_histogram_hour_paris",
    "dst_peak_hour_paris",
    "embed_then_topk",
    "gram_novelty",
    "inverted_postings",
    "join5_runway_attribution",
    "join5_runway_attribution_grid",
    "kmeans_refine",
    "mad_outliers",
    "pagerank_event_types",
    "passage_coverage_filter",
    "passage_mask_digest",
    "passage_mine_top",
    "profile_events",
    "quality_percentile",
    "quality_quantile_filter",
    "sample_top_per_lang",
    "semdedup_prune",
    "state1_sessions",
    "text_repetition",
    "text_token_rarity",
    "tfidf_top_terms",
    "token_zipf",
    "tpch_q10_returned_items",
    "tpch_q18_large_orders",
    "tpch_q21_sole_late_supplier",
    "tpch_q3_shipping",
    "vocab_apply_oov",
    "vocab_top_tokens",
    "zorder_bbox_read",
})


def format_bench_output(timings: dict[str, float], sf: float) -> tuple[str, str]:
    """Return ``(full_line, stdout_line)`` for a finished bench run.

    ``full_line`` is the complete one-line JSON contract
    ({metric, value, unit, queries, sf}) and is persisted to
    BENCH_FULL.json.  ``stdout_line`` is identical when it fits the
    driver's tail-capture window; otherwise it carries the same
    headline fields plus the slowest-first subset of ``queries`` that
    fits, with ``n_queries`` and a ``queries_full`` pointer so readers
    know the printed map is partial and where the rest lives.
    Deterministic: ranking ties break on name."""
    total = round(sum(timings.values()), 3)
    payload = {
        "metric": "bench_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
    }
    # frozen comparable subtotals — only when the run covers the whole
    # pinned set (subset runs would emit a misleading partial)
    for key, pinned in PINNED_SETS:
        vals = [timings[n] for n in pinned if n in timings]
        if len(vals) == len(pinned):
            payload[key] = round(sum(vals), 3)
    full_line = json.dumps(payload)
    if len(full_line) <= STDOUT_LINE_BUDGET:
        return full_line, full_line
    payload["n_queries"] = len(timings)
    payload["queries_full"] = "BENCH_FULL.json"
    ranked = sorted(timings.items(), key=lambda kv: (-kv[1], kv[0]))
    # continuity names first (still slowest-first among themselves so
    # the printed map reads ranked), then the rest slowest-first; the
    # shrink loop drops non-pinned fillers from the TAIL and never a
    # pinned name: if the pinned set alone overflows the budget, the
    # continuity contract cannot hold, so fail loudly instead of
    # printing a map with silent phantom drops.
    pinned = [kv for kv in ranked if kv[0] in PRINTED_CONTINUITY]
    filler = [kv for kv in ranked if kv[0] not in PRINTED_CONTINUITY]
    ordered = pinned + filler
    k = len(ordered)
    while True:
        payload["queries"] = dict(ordered[:k])
        stdout_line = json.dumps(payload)
        if len(stdout_line) <= STDOUT_LINE_BUDGET:
            return full_line, stdout_line
        if k == len(pinned):
            raise ValueError(
                f"the {len(pinned)} PRINTED_CONTINUITY names alone print "
                f"{len(stdout_line)} chars, over STDOUT_LINE_BUDGET="
                f"{STDOUT_LINE_BUDGET}; shrink the pinned set"
            )
        k -= 1


def ab_summary(
    new_runs: list[dict[str, float]], ref_runs: list[dict[str, float]]
) -> dict:
    """Pure aggregation for ``--ab-ref``: per query, min over each
    side's runs (the steady-state plan cost, same convention as the
    normal bench), the paired delta (new − ref, negative = faster)
    and ratio.  Queries missing on either side (registry drift between
    trees) are reported under ``unpaired`` instead of silently
    dropped."""
    new_min: dict[str, float] = {}
    ref_min: dict[str, float] = {}
    for runs, acc in ((new_runs, new_min), (ref_runs, ref_min)):
        for run in runs:
            for q, s in run.items():
                acc[q] = min(acc.get(q, float("inf")), float(s))
    paired = sorted(set(new_min) & set(ref_min))
    queries = {
        q: {
            "new": round(new_min[q], 3),
            "ref": round(ref_min[q], 3),
            "delta": round(new_min[q] - ref_min[q], 3),
            "ratio": round(new_min[q] / ref_min[q], 3)
            if ref_min[q] > 0
            else None,
        }
        for q in paired
    }
    return {
        "queries": queries,
        "total_new": round(sum(new_min[q] for q in paired), 3),
        "total_ref": round(sum(ref_min[q] for q in paired), 3),
        "unpaired": sorted(set(new_min) ^ set(ref_min)),
    }


# Injected into BOTH trees so the two sides run IDENTICAL measurement
# code regardless of each tree's bench.py vintage (the round-9 tree
# predates SPARK_GRAFT_BENCH_QUERIES): single-shot per fresh process,
# same noop-sink + inter-query hygiene as main().
_AB_DRIVER = """
import gc, json, os, sys, time
sys.path.insert(0, os.getcwd())
from dump1090_postgis_spark.plans import full_registry
from dump1090_postgis_spark.session import get_spark

spark = get_spark(app_name="bench_ab")
sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
reg = full_registry()
out = {}
for n in sys.argv[1].split(","):
    # Registry drift between trees (a query added this round doesn't
    # exist in an older ref): SKIP here so ab_summary reports it under
    # `unpaired` instead of a KeyError killing the whole ref side
    # (round-11 advisor).
    if n not in reg:
        continue
    fn, _sql = reg[n]
    t0 = time.time()
    df = fn(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    out[n] = round(time.time() - t0, 3)
    df = None
    spark.catalog.clearCache()
    gc.collect()
    # spark._jvm is None under Spark Connect (r13 advisor): skip there.
    if os.environ.get("SPARK_GRAFT_BENCH_JVMGC", "1") != "0" and getattr(spark, "_jvm", None) is not None:
        spark._jvm.System.gc()
print(json.dumps({"queries": out}))
"""


def _run_bench_process(tree: str, names: list[str]) -> dict[str, float]:
    """One fresh-process single-shot bench of ``names`` against the
    checkout at ``tree``; returns its per-query timing map."""
    import subprocess

    proc = subprocess.run(
        [sys.executable, "-c", _AB_DRIVER, ",".join(names)],
        cwd=tree, capture_output=True, text=True,
    )
    line = next(
        (ln for ln in reversed(proc.stdout.splitlines())
         if ln.startswith("{")),
        None,
    )
    if proc.returncode != 0 or line is None:
        raise SystemExit(
            f"bench subprocess failed in {tree} "
            f"(rc={proc.returncode}):\n{proc.stderr[-2000:]}"
        )
    return json.loads(line)["queries"]


def run_ab(ref: str, names: list[str], pairs: int = 3) -> int:
    """``--ab-ref <git-ref>`` — the worktree A/B protocol that round
    10 ran by hand (BASELINE.md: same final tree measured 60.5–90.5 s
    across a noisy window; only INTERLEAVED same-set runs attribute a
    mover to the code instead of the host).  Checks ``ref`` out into a
    throwaway worktree and runs ``pairs`` fresh-PROCESS single-shot
    benches per side, alternating sides each pair (ABBA ordering — a
    monotonic host drift hits both sides symmetrically), then reports
    min-of-pairs per query with paired deltas.  Writes BENCH_AB.json;
    never touches BENCH_FULL.json."""
    import subprocess
    import tempfile

    repo = os.path.dirname(os.path.abspath(__file__))
    wt = tempfile.mkdtemp(prefix="bench_ab_")
    subprocess.run(
        ["git", "-C", repo, "worktree", "add", "--force", "--detach", wt, ref],
        check=True,
    )
    try:
        new_runs: list[dict[str, float]] = []
        ref_runs: list[dict[str, float]] = []
        for i in range(pairs):
            order = (
                [(repo, new_runs), (wt, ref_runs)]
                if i % 2 == 0
                else [(wt, ref_runs), (repo, new_runs)]
            )
            for tree, acc in order:
                side = "new" if tree == repo else "ref"
                t0 = time.time()
                acc.append(_run_bench_process(tree, names))
                print(
                    f"[ab] pair {i + 1}/{pairs} {side}: "
                    f"{round(time.time() - t0, 1)}s wall",
                    file=sys.stderr,
                )
    finally:
        subprocess.run(
            ["git", "-C", repo, "worktree", "remove", "--force", wt],
            check=False,
        )
    out = ab_summary(new_runs, ref_runs)
    out.update({"metric": "bench_ab", "ref": ref, "pairs": pairs,
                "sf_dir": SF_DIR})
    with open(os.path.join(repo, "BENCH_AB.json"), "w") as f:
        f.write(json.dumps(out) + "\n")
    for q, row in sorted(
        out["queries"].items(), key=lambda kv: kv[1]["delta"]
    ):
        print(
            f"{q:<36} new {row['new']:>8.3f}  ref {row['ref']:>8.3f}  "
            f"delta {row['delta']:>+8.3f}  x{row['ratio']}",
            file=sys.stderr,
        )
    print(json.dumps({k: out[k] for k in
                      ("metric", "ref", "pairs", "total_new", "total_ref")}))
    return 0


def main() -> int:
    from dump1090_postgis_spark.plans import full_registry
    from dump1090_postgis_spark.session import get_spark

    spark = get_spark(app_name="bench")
    registry = full_registry()

    sf = float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in SF_DIR else -1.0

    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    # SPARK_GRAFT_BENCH_QUERIES=a,b,c — solo/subset mode for the
    # closing-protocol rows (BASELINE.md "Solo heavy-query rows" +
    # the round-10 agg1_histogram_hour_utc attribution row).  A subset
    # run never overwrites BENCH_FULL.json (that file is the full-set
    # driver artifact).
    subset = os.environ.get("SPARK_GRAFT_BENCH_QUERIES", "")
    names = (
        [n for n in subset.split(",") if n] if subset else BENCH_QUERIES
    )
    unknown = [n for n in names if n not in registry]
    if unknown:
        raise SystemExit(f"unknown bench queries: {unknown}")
    timings: dict[str, float] = {}
    for name in names:
        fn, _sql = registry[name]
        best = None
        for _ in range(runs):
            # The timer wraps PLAN BUILD as well as execution: some
            # queries do corpus-scale eager work at build time
            # (vocab_apply_oov's tokenize+aggregate vocab pass,
            # corpus_shuffle_shard's dense-id persist+count), which a
            # build-once/time-writes-only loop would never see.
            t0 = time.time()
            df = fn(spark, SF_DIR)
            # full materialization without driver collect
            df.write.format("noop").mode("overwrite").save()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
            # Inter-run/query hygiene: drop cached/persisted frames
            # and let GC release broadcast refs so the next run
            # doesn't inherit this one's executor-memory pressure
            # (measured: identical plans 3-5× slower late in a
            # 40-query session than isolated) — and so each run
            # re-pays its own eager stages instead of hitting the
            # previous run's persist.
            df = None
            spark.catalog.clearCache()
            import gc

            gc.collect()
            # Python gc released the py4j refs, but the JVM-side
            # broadcast blocks / block-manager entries they pinned are
            # only reclaimed by the ContextCleaner AFTER a JVM GC
            # notices the weak refs — which in a long session happens
            # far behind the allocation rate (the 3-5× late-session
            # inflation above).  One explicit full GC per run keeps
            # each query measured against a clean heap.  Runs OUTSIDE
            # the timed window; SPARK_GRAFT_BENCH_JVMGC=0 restores the
            # old behavior for A/B.  (spark._jvm is None under Spark
            # Connect sessions — r13 advisor — so guard the access;
            # the repo is classic-local today, this is future-proofing.)
            if (
                os.environ.get("SPARK_GRAFT_BENCH_JVMGC", "1") != "0"
                and getattr(spark, "_jvm", None) is not None
            ):
                spark._jvm.System.gc()
        timings[name] = round(best, 3)

    full_line, stdout_line = format_bench_output(timings, sf)
    repo_dir = os.path.dirname(os.path.abspath(__file__))
    if not subset:
        with open(os.path.join(repo_dir, "BENCH_FULL.json"), "w") as f:
            f.write(full_line + "\n")
    print(stdout_line)
    return 0


if __name__ == "__main__":
    if "--ab-ref" in sys.argv:
        argv = sys.argv[1:]
        ab_ref = argv[argv.index("--ab-ref") + 1]
        ab_pairs = (
            int(argv[argv.index("--ab-pairs") + 1])
            if "--ab-pairs" in argv
            else 3
        )
        subset = os.environ.get("SPARK_GRAFT_BENCH_QUERIES", "")
        ab_names = (
            [n for n in subset.split(",") if n] if subset else BENCH_QUERIES
        )
        raise SystemExit(run_ab(ab_ref, ab_names, ab_pairs))
    raise SystemExit(main())
