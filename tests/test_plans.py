"""Physical-plan regression tests: the scale properties the engine
claims (pushdown reaching the scan, broadcast dim joins, no
single-partition windows, projection-only assignment, no corpus
self-joins) are asserted on `.explain`-style plan text so a future
refactor cannot silently reintroduce a scale-killer.

These pin PLAN SHAPE, not timings — shapes are stable across data
sizes, so sf0.001 suffices.
"""

import re

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_raw_nanos_prefilter_reaches_parquet_scan(spark):
    """flt5: the ts range predicate must be pushed to the parquet scan
    on the RAW int64-nanos column (the converted timestamp blocks
    pushdown)."""
    from dump1090_postgis_spark.plans.testdata_queries import q_flt5_events_on_day

    plan = plan_of(q_flt5_events_on_day(spark, SF))
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m, plan
    assert "GreaterThanOrEqual(ts" in m.group(1)
    assert "LessThan(ts" in m.group(1)


def test_tpch_q6_predicates_pushed(spark):
    from dump1090_postgis_spark.plans.testdata_queries import q_tpch_q6_forecast

    plan = plan_of(q_tpch_q6_forecast(spark, SF))
    pushed = " ".join(re.findall(r"PushedFilters: \[[^\]]*\]", plan))
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} not pushed: {pushed}"


def test_histogram_axis_join_is_broadcast(spark):
    """AGG-1/JOIN-3: the generated time axis must build-side broadcast
    — a shuffled axis join would move the aggregate for nothing."""
    from dump1090_postgis_spark.plans.testdata_queries import (
        q_agg1_histogram_hour_utc,
    )

    plan = plan_of(q_agg1_histogram_hour_utc(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_histogram_noids_has_no_collect_list(spark):
    from dump1090_postgis_spark.plans.testdata_queries import (
        q_agg1_histogram_noids,
    )

    plan = plan_of(q_agg1_histogram_noids(spark, SF))
    assert "collect_list" not in plan


def test_sliding_counts_no_single_partition_window(spark):
    """AGG-2 scale path: the day-partitioned window must NOT plan an
    Exchange SinglePartition (the reference's global ORDER BY frame)."""
    from dump1090_postgis_spark.operators.peak_hour import sliding_hour_counts
    from dump1090_postgis_spark.schemas import load_table

    ev = load_table(spark, SF, "events").select("event_id", "ts")
    plan = plan_of(sliding_hour_counts(ev, ts="ts"))
    assert "SinglePartition" not in plan
    # the literal reference plan DOES have one — kept only for testing
    plan_ref = plan_of(sliding_hour_counts(ev, ts="ts", partitioned=False))
    assert "SinglePartition" in plan_ref


def test_runway_attribution_plans_no_join(spark):
    """JOIN-5: the broadcast-class runway dim is compiled into a
    coalesce expression — the events plan must contain no join at all."""
    from dump1090_postgis_spark.operators.attribution import attribute_runway
    from dump1090_postgis_spark.schemas import load_table
    from dump1090_postgis_spark.sources.dims import nte_runways

    ev = load_table(spark, SF, "events").select(
        "event_id",
        (F.col("value") / 100).alias("longitude"),
        (F.col("value") / 100).alias("latitude"),
        F.lit(30.0).alias("interp_track"),
    )
    plan = plan_of(attribute_runway(ev, nte_runways(spark)))
    assert "Join" not in plan


def test_ivf_assignment_is_projection(spark):
    """Corpus list assignment must be a pure projection: literal
    centroids, zero Exchange, zero Join, zero Window in the assigned
    corpus plan."""
    from dump1090_postgis_spark.datapipe.similarity import (
        build_centroids,
        with_nearest_centroid,
    )
    from dump1090_postgis_spark.schemas import load_table

    emb = load_table(spark, SF, "embeddings")
    centroids = build_centroids(emb, num_centroids=4)
    assigned = with_nearest_centroid(emb, centroids, "embedding")
    plan = plan_of(assigned)
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "Window" not in plan


def test_embedding_lsh_no_bucket_self_join(spark):
    """Banded LSH candidates come from a bucket groupBy — the plan must
    not contain a nested-loop/cartesian self-join (the round-1 64-
    bucket design), and row_number-free ranking."""
    from dump1090_postgis_spark.datapipe.dedup import embedding_near_dup_pairs
    from dump1090_postgis_spark.schemas import load_table

    emb = load_table(spark, SF, "embeddings")
    plan = plan_of(embedding_near_dup_pairs(emb, threshold=0.25))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dense_ids_no_global_window(spark):
    """with_dense_ids must number via range partitions + offsets —
    never a partition-less row_number window."""
    from dump1090_postgis_spark.operators.ids import with_dense_ids
    from dump1090_postgis_spark.schemas import load_table

    ev = load_table(spark, SF, "events").select("event_id", "ts")
    out = with_dense_ids(ev, ["ts", "event_id"], "id")
    plan = plan_of(out)
    assert "SinglePartition" not in plan
    grouped = with_dense_ids(
        ev.withColumn("g", F.col("event_id") % 3), ["ts", "event_id"], "id",
        group_col="g",
    )
    assert "SinglePartition" not in plan_of(grouped)


def test_computed_array_explodes_infer_no_recompute_filter(spark):
    """explode() over a computed array lets InferFiltersFromGenerate
    synthesize a size(arr)>0 pre-filter whose pushdown re-inlines the
    whole array expression (split per element_at) below upstream
    projects/exchanges — observed 10-30x slowdowns.  explode_computed
    uses explode_outer + a post-Generate null filter, which CANNOT be
    pushed; assert no Filter node re-evaluates the shingle pipeline."""
    from dump1090_postgis_spark.datapipe.contamination import (
        ngram_contamination,
    )
    from dump1090_postgis_spark.datapipe import dedup as dd
    from dump1090_postgis_spark.schemas import load_table

    docs = load_table(spark, SF, "documents")
    for df in (
        ngram_contamination(docs, F.col("doc_id") % 7 == 0, k=8),
        dd.jaccard_pairs(
            docs, dd.lsh_candidate_pairs(docs, hash_family="xxhash64")
        ),
    ):
        plan = plan_of(df)
        for section in re.findall(r"\(\d+\) Filter\n((?:.+\n)+?)\n", plan):
            assert "split(" not in section, section


def test_incremental_dedup_probe_is_broadcast(spark):
    """The batch-vs-corpus probe must broadcast the (small) new side
    and never sort-merge the corpus side; the hot-bucket cap is a
    broadcast anti-join of the partial-agg count output."""
    from dump1090_postgis_spark.datapipe import dedup as dd
    from dump1090_postgis_spark.schemas import load_table

    docs = load_table(spark, SF, "documents")
    plan = plan_of(
        dd.incremental_lsh_pairs(
            docs.filter(F.col("doc_id") < 400),
            docs.filter(F.col("doc_id") >= 400),
        )
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "LeftAnti" in plan  # hot-bucket cap present


def test_vocab_rank_has_no_window(spark):
    """vocab_top_terms (round 4): top-k must be TakeOrderedAndProject
    (per-partition heaps) + a broadcast rank self-join — no WindowExec
    anywhere, partitioned or not."""
    from dump1090_postgis_spark.plans.datapipe_queries import q_vocab_top_tokens

    plan = plan_of(q_vocab_top_tokens(spark, SF))
    assert "Window" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan


def test_brute_force_cosine_staged_outside_join(spark):
    """ann top-k (round 4): the double-cast/norm staging must stay on
    the join INPUT sides.  The fragment of the plan above the
    broadcast join may reference the staged attributes but must not
    re-evaluate the quantization (array_max) or the norm (sqrt) —
    those appear only below the join."""
    from dump1090_postgis_spark.plans.datapipe_queries import q_ann_topk_quantized

    plan = plan_of(q_ann_topk_quantized(spark, SF))
    join_pos = plan.find("BroadcastNestedLoopJoin")
    assert join_pos > 0, plan
    above = plan[:join_pos]
    # the post-join projection is printed before the join node in
    # formatted plans; it must hold only the dot product and divide
    assert "array_max" not in above, above
    assert "SQRT" not in above and "sqrt" not in above, above


def test_shuffle_shard_no_global_window(spark):
    """corpus_shuffle_shard: dense-id assignment numbers within range
    partitions (the internal window is partition-scoped) — the plan
    must never funnel the corpus into a single partition."""
    from dump1090_postgis_spark.plans.datapipe_queries import (
        q_corpus_shuffle_shard,
    )

    plan = plan_of(q_corpus_shuffle_shard(spark, SF))
    assert "SinglePartition" not in plan, plan


def test_vocab_apply_joins_broadcast(spark):
    """apply_vocab: the vocab side must broadcast; the corpus explode
    must not shuffle before the join."""
    from dump1090_postgis_spark.plans.datapipe_queries import q_vocab_apply_oov

    plan = plan_of(q_vocab_apply_oov(spark, SF))
    assert "BroadcastHashJoin" in plan, plan


def test_label_outlier_centroids_partial_agg(spark):
    """embedding_outliers: the (label, dim) mean must partial-aggregate
    (combiner) before its exchange, and the centroid join back must be
    broadcast."""
    from dump1090_postgis_spark.plans.datapipe_queries import q_embedding_outliers

    plan = plan_of(q_embedding_outliers(spark, SF))
    assert "partial_avg" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_passage_coverage_frequent_set_is_broadcast(spark):
    """The frequent-passage probe must be a broadcast hash join (the
    mined set is Zipf-small) — the corpus side must never shuffle on
    the gram key to discover its covered positions — and no window
    may appear anywhere in the family."""
    from dump1090_postgis_spark.datapipe.passages import passage_coverage
    from dump1090_postgis_spark.schemas import load_table

    docs = load_table(spark, SF, "documents")
    plan = plan_of(passage_coverage(docs))
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan


def test_bloom_decontaminate_probe_side_broadcasts(spark):
    """Bloom-prefiltered decontamination: both the single-row bitmap
    and the exact verify set ride broadcast exchanges; the corpus gram
    stream itself must not hash-shuffle before the per-doc count."""
    from dump1090_postgis_spark.datapipe.contamination import (
        ngram_contamination_bloom,
    )
    from dump1090_postgis_spark.schemas import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, SF, "documents")
    out = ngram_contamination_bloom(docs, F.col("doc_id") % 7 == 0, k=8)
    plan = plan_of(out)
    assert plan.count("BroadcastExchange") >= 2
    # the only non-broadcast exchange is the final per-doc partial count
    assert "Window" not in plan


def test_semdedup_assignment_zero_shuffle_before_pairwise(spark):
    """semantic_dedup's checkpointed assignment must carry no Window
    and no cartesian/nested-loop join — pairs come from the salted
    equi-join only."""
    from dump1090_postgis_spark.datapipe.similarity import semantic_dedup
    from dump1090_postgis_spark.schemas import load_table

    emb = load_table(spark, SF, "embeddings")
    plan = plan_of(semantic_dedup(emb, num_centroids=4, tau=0.3))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" not in plan


def test_kmeans_refine_assignment_stays_projection(spark):
    """Every Lloyd round's reassignment must be a projection over
    plan-literal centroids — no join, no window, no crossJoin on the
    corpus side (only the element-wise mean aggregations shuffle)."""
    from dump1090_postgis_spark.plans.datapipe_queries import q_kmeans_refine

    plan = plan_of(q_kmeans_refine(spark, SF))
    assert "Join" not in plan, plan
    assert "WindowExec" not in plan and "RunningWindow" not in plan


def test_length_buckets_window_is_shard_partitioned(spark):
    """The batch-index window must partition by (shard, bucket) —
    a bucket-only (or global) window would funnel the corpus through
    ~10 partitions regardless of size."""
    from dump1090_postgis_spark.plans.datapipe_queries import q_length_buckets

    plan = plan_of(q_length_buckets(spark, SF))
    m = re.search(r"Arguments: \[row_number\(\).*partitionBy\(([^)]*)\)", plan)
    # formatted plans print Window spec inside the Window node detail
    w = re.search(r"\[shard[^\]]*bucket[^\]]*\], \[doc_id", plan) or re.search(
        r"partitionspec.*shard", plan, re.I
    )
    assert "Window" in plan
    assert w or ("shard" in plan and "bucket" in plan), plan


def test_rolling_range_agg_no_global_window(spark):
    """RANGE frame must be keyed by user_id, never a global order."""
    from dump1090_postgis_spark.plans.testdata_queries import q_rolling_value_avg

    plan = plan_of(q_rolling_value_avg(spark, SF))
    assert "Window" in plan
    # a keyed window sorts by (user_id, ts...); a global window would
    # sort by the order key alone in a single partition
    assert "user_id" in plan


def test_profile_events_single_scan(spark):
    """The census must read the table ONCE (Expand-based multi
    count-distinct), not once per column."""
    from dump1090_postgis_spark.plans.testdata_queries import q_profile_events

    plan = plan_of(q_profile_events(spark, SF))
    # one "Location:" detail block per physical scan
    assert plan.count("Location: InMemoryFileIndex") == 1, plan
    assert "Expand" in plan


def test_source_overlap_join_is_on_hash_key(spark):
    """The self-join must be an equi join on the fingerprint hash —
    never a nested-loop/cartesian over the distinct sets."""
    from dump1090_postgis_spark.plans.datapipe_queries import q_source_overlap

    plan = plan_of(q_source_overlap(spark, SF))
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan


def test_gram_novelty_no_window_no_cartesian(spark):
    from dump1090_postgis_spark.plans.datapipe_queries import q_gram_novelty

    plan = plan_of(q_gram_novelty(spark, SF))
    assert "WindowExec" not in plan
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan


def test_funnel_single_user_exchange(spark):
    """The chained per-step window minima must all reuse ONE
    hash-exchange on the user key (a per-step re-shuffle would triple
    the funnel's cost)."""
    from dump1090_postgis_spark.plans.testdata_queries import q_funnel_conversion

    plan = plan_of(q_funnel_conversion(spark, SF))
    assert plan.count("hashpartitioning(user_id") == 1, plan
    assert len(re.findall(r"\(\d+\) Window\n", plan)) == 3, plan


def test_pivot_single_scan_explicit_values(spark):
    """Explicit pivot values: one table scan, no hidden distinct job
    to discover the columns."""
    from dump1090_postgis_spark.plans.testdata_queries import q_pivot_type_by_day

    plan = plan_of(q_pivot_type_by_day(spark, SF))
    assert plan.count("Location: InMemoryFileIndex") == 1, plan


def test_cube_is_one_expand_aggregation(spark):
    """CUBE plans as Expand + partial agg — one shuffle, not one scan
    per grouping set."""
    from dump1090_postgis_spark.plans.testdata_queries import q_cube_priority_flag

    plan = plan_of(q_cube_priority_flag(spark, SF))
    assert "Expand" in plan, plan
    assert plan.count("Location: InMemoryFileIndex") == 2, plan  # lineitem+orders


def test_inverted_postings_take_ordered_no_window(spark):
    """The top-n cut must be TakeOrderedAndProject (per-partition
    heaps), never a global sort or single-partition window."""
    from dump1090_postgis_spark.plans.datapipe_queries import q_inverted_postings

    plan = plan_of(q_inverted_postings(spark, SF))
    assert "TakeOrderedAndProject" in plan, plan
    assert "WindowExec" not in plan and not re.search(r"\(\d+\) Window\n", plan), plan


def test_bm25_single_scan_no_corpus_shuffle_on_score_path(spark):
    """Single-scan BM25: per-term tf and dl are projections over the
    staged words array (no explode, no (doc,token) aggregation); the
    only join is the broadcast single-row stats frame; the rank window
    sits ABOVE the top-n limit (bounded input by construction)."""
    from dump1090_postgis_spark.plans.datapipe_queries import q_bm25_search

    plan = plan_of(q_bm25_search(spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("Location: InMemoryFileIndex") == 2, plan  # score+stats
    assert "TakeOrderedAndProject" in plan, plan
    # exactly one Window, fed by the ≤top_n TakeOrdered output
    assert len(re.findall(r"\(\d+\) Window\n", plan)) == 1, plan


def test_scd2_windows_share_one_doc_exchange(spark):
    """Lag flag + running run-id must reuse ONE hash-exchange on the
    document key; the run compaction groupBy is co-partitioned."""
    from dump1090_postgis_spark.plans.datapipe_queries import q_scd2_doc_intervals

    plan = plan_of(q_scd2_doc_intervals(spark, SF))
    assert plan.count("hashpartitioning(doc_id") == 1, plan


def test_q21_semi_and_anti_share_orderkey_exchanges(spark):
    """The double-correlated EXISTS/NOT EXISTS must plan as one LEFT
    SEMI plus one LEFT ANTI join on the orderkey — no cartesian, no
    per-row subquery shape — with the supplier dim broadcast."""
    from dump1090_postgis_spark.plans.testdata_queries import (
        q_tpch_q21_sole_late_supplier,
    )

    plan = plan_of(q_tpch_q21_sole_late_supplier(spark, SF))
    assert "LeftSemi" in plan and "LeftAnti" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def plan_kids(node):
    """Children of a physical plan node, through the AQE wrappers."""
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if cls.endswith("QueryStageExec"):
        return [node.plan()]
    ch = node.children()
    return [ch.apply(i) for i in range(ch.size())]


def _window_input_rows(df):
    """Execute ``df`` and return, per WindowExec in the final (AQE)
    physical plan, the rows that flowed INTO the window — read from the
    numOutputRows metric of the window's nearest descendant that
    defines one (WindowExec itself defines no row metric)."""
    df.collect()
    counts = []

    def first_row_metric(node):
        opt = node.metrics().get("numOutputRows")
        if opt.isDefined():
            return opt.get().value()
        # limit operators define no row metric but bound their output
        # exactly — do NOT descend past them to a pre-limit count
        if node.getClass().getSimpleName() in (
            "TakeOrderedAndProjectExec", "GlobalLimitExec", "LocalLimitExec",
        ):
            return node.limit()
        for c in plan_kids(node):
            v = first_row_metric(c)
            if v is not None:
                return v
        return None

    def walk(node):
        if node.nodeName() == "Window":
            child = plan_kids(node)
            v = first_row_metric(child[0]) if child else None
            if v is not None:
                counts.append(v)
        for c in plan_kids(node):
            walk(c)

    walk(df._jdf.queryExecution().executedPlan())
    return counts


def test_documented_global_windows_are_input_bounded(spark):
    """Every unpartitioned window in the package is bounded by
    construction (the sites documented in place); with the
    WindowExecBase warning silenced (session.py), THIS is the guard:
    measure the actual rows each WindowExec consumed and assert the
    documented bound."""
    from pyspark.sql import functions as F

    from dump1090_postgis_spark.datapipe.retrieval import bm25_topk, rerank_topk
    from dump1090_postgis_spark.operators.copy import remap_ids
    from dump1090_postgis_spark.schemas import load_table

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")

    # retrieval.bm25_topk: rank window sits ABOVE the top_n limit
    rows = _window_input_rows(bm25_topk(docs, ["the", "data"], top_n=20))
    assert rows and all(r <= 20 for r in rows), rows

    # retrieval.rerank_topk: both windows bounded by k_retrieve
    rows = _window_input_rows(
        rerank_topk(docs, ["the", "data"], k_retrieve=15, k_final=5)
    )
    assert rows and all(r <= 15 for r in rows), rows

    # operators.copy.remap_ids: window over the explicit copy selection
    flights = spark.range(1000).select(F.col("id"), (F.col("id") % 7).alias("x"))
    child = spark.range(1000).select(F.col("id").alias("flight_id"))
    new_flights, _ = remap_ids(flights, {"c": child}, [1, 2, 3], 50_000)
    rows = _window_input_rows(new_flights)
    assert rows and all(r <= 3 for r in rows), rows

    # plans.testdata_queries snk5: window over the isin selection only
    from dump1090_postgis_spark.plans.testdata_queries import q_snk5_copy_remap

    out = q_snk5_copy_remap(spark, sf)
    n_selected = out.count()
    n_total = load_table(spark, sf, "events").count()
    rows = _window_input_rows(out)
    assert rows and all(r <= n_selected for r in rows), rows
    assert n_selected < n_total  # the selection is a strict subset


def test_attribution_grid_join_window_is_dim_sized(spark):
    """operators.attribution grid-cell path: the only unpartitioned
    window runs over the runway DIM (broadcast-class), never over
    event data."""
    from pyspark.sql import functions as F

    from dump1090_postgis_spark.operators import attribution
    from dump1090_postgis_spark.operators.attribution import attribute_runway
    from dump1090_postgis_spark.schemas import load_table
    from tests.test_plans import _window_input_rows  # self-import safe

    n_rw = 300  # above BRANCH_BUDGET=256 -> forces the grid-cell join
    rows = [
        (
            i,
            f"RW{i:03d}",
            float(i % 360),
            [
                {"lon": 0.001 * i, "lat": 0.001 * i},
                {"lon": 0.001 * i + 0.01, "lat": 0.001 * i},
                {"lon": 0.001 * i + 0.01, "lat": 0.001 * i + 0.01},
                {"lon": 0.001 * i, "lat": 0.001 * i + 0.01},
            ],
        )
        for i in range(n_rw)
    ]
    runways = spark.createDataFrame(
        rows,
        "id long, name string, direction double, "
        "polygon array<struct<lon:double,lat:double>>",
    )
    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        F.col("event_id"),
        (F.col("value") / 1000).alias("longitude"),
        (F.col("value") / 1000).alias("latitude"),
        F.lit(10.0).alias("interp_track"),
    )
    out = attribute_runway(ev, runways)
    n_events = ev.count()
    # the window is the per-cell dim's, which the attributor pins once
    # (attribution._grid_runway_cells) ...
    wrows = _window_input_rows(attribution._grid_runway_cells(runways))
    assert wrows and all(r == n_rw for r in wrows), wrows
    assert all(r < n_events for r in wrows)
    # ... so the attributed events run through no window at all
    assert _window_input_rows(out) == []


def test_every_registry_entry_is_driver_window_represented():
    """The driver hash-checks only the 50-entry window; anything it
    cannot see must at least be a member of a window BUNDLE (whose
    UNION-ALL hash covers every member row).  Registry growth must
    never silently orphan a query to CHECK_ALL-only status — the
    WINDOW.md audit, pinned."""
    from dump1090_postgis_spark.plans import DRIVER_WINDOW, full_registry
    from dump1090_postgis_spark.plans.bundles import bundle_members

    win = set(DRIVER_WINDOW)
    covered = set(win)
    for bundle, members in bundle_members().items():
        if bundle in win:
            covered.update(members)
    orphans = [n for n in full_registry() if n not in covered]
    assert not orphans, (
        f"window-orphaned registry entries (add to a window bundle or "
        f"rotate the window, then regenerate WINDOW.md): {orphans}"
    )


def test_ivf_vectorized_assignment_stays_mapside(spark):
    """Over-budget IVF corpus assignment (the round-9 FLOPs dispatch):
    the vectorized engine must keep the corpus side a pure map — one
    Arrow mapInPandas over the scan, zero Exchange / Join / Window
    before the probe join; and the whole ivf_topk plan's only
    exchange is the final per-query ranking over candidates."""
    from dump1090_postgis_spark.datapipe.costmodel import work_rows_threshold
    from dump1090_postgis_spark.datapipe.similarity import (
        _IVF_ASSIGN_LITERAL_MAX_FLOPS,
        _assign_nearest_vectorized,
        build_centroids,
        ivf_topk,
    )
    from dump1090_postgis_spark.schemas import load_table

    emb = load_table(spark, SF, "embeddings")
    centroids = build_centroids(emb, num_centroids=4)

    assigned = _assign_nearest_vectorized(
        emb, centroids, "embedding", "list_id"
    )
    plan = plan_of(assigned)
    assert "MapInPandas" in plan
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "Window" not in plan

    # full query with a corpus_rows hint past the FLOPs budget (k·dim
    # per row), so the assignment is vectorized: corpus side still has
    # no exchange upstream of the broadcast probe join; the only hash
    # exchange is the candidate ranking window
    dim = len(emb.select("embedding").first()[0])
    out = ivf_topk(
        emb, emb.limit(2), centroids, k=3, probes=2,
        corpus_rows=work_rows_threshold(_IVF_ASSIGN_LITERAL_MAX_FLOPS, 4 * dim),
    )
    qplan = plan_of(out)
    assert "MapInPandas" in qplan
    assert "BroadcastHashJoin" in qplan or "BroadcastNestedLoopJoin" in qplan
    assert qplan.count("Exchange hashpartitioning") <= 1


def test_table_rows_footer_hint_exact_and_output_invariant(spark, tmp_path):
    """Round-10 verdict #3: the registry threads parquet-footer row
    counts as corpus_rows hints into every size-gated call site.
    The hint is jobs-not-answers ONLY because it is EXACT — pin that
    (a) table_rows == the Spark count for every testdata table, single
    file and Spark directory-of-parts layouts both; (b) a hinted
    flagship entry's rows equal the unhinted operator's."""
    from dump1090_postgis_spark.datapipe.similarity import semantic_dedup
    from dump1090_postgis_spark.plans.datapipe_queries import q_semdedup_prune
    from dump1090_postgis_spark.schemas import (
        TESTDATA_TABLES,
        load_table,
        table_rows,
    )

    for t in TESTDATA_TABLES:
        n = table_rows(SF, t)
        assert n is not None and n == load_table(spark, SF, t).count(), t

    # Spark-written directory layout (the decade-bench .bench_sf1_x{N}
    # shape): footer sum over part files, _SUCCESS ignored
    emb = load_table(spark, SF, "embeddings")
    emb.repartition(3).write.mode("overwrite").parquet(
        str(tmp_path / "embeddings.parquet")
    )
    assert table_rows(str(tmp_path), "embeddings") == emb.count()

    # missing table degrades to None (caller falls back to probe)
    assert table_rows(str(tmp_path), "nope") is None

    # Hive-partitioned layout (part files in key=value SUBDIRS): the
    # footer walk must recurse — a top-level-only sum returned 0 here
    # and the cached 0 fed auto-k n=0 at every hinted call site
    emb.withColumn("p", F.col("vec_id") % 2).write.partitionBy(
        "p"
    ).mode("overwrite").parquet(str(tmp_path / "emb_hive.parquet"))
    assert table_rows(str(tmp_path), "emb_hive") == emb.count()

    # a directory with no part files at ANY depth is UNKNOWN (None,
    # caller falls back to its probe chain), never 0
    (tmp_path / "hollow.parquet").mkdir()
    assert table_rows(str(tmp_path), "hollow") is None

    hinted = {
        (r.vec_id, r.keep) for r in q_semdedup_prune(spark, SF).collect()
    }
    unhinted = {
        (r.vec_id, r.keep)
        for r in semantic_dedup(emb, num_centroids=None, tau=0.3).collect()
    }
    assert hinted == unhinted


def test_join5_grid_registry_entry_takes_grid_plan(spark):
    """join5_runway_attribution_grid (round-12): its 300-runway dim
    crosses the 256-branch compile budget, so the registry entry must
    run the PRODUCTION grid-cell broadcast join — events
    broadcast-hash-join their cell's runway array (never a shuffle of
    the event side, never a sort-merge join), while the compiled
    sibling stays join-free."""
    from dump1090_postgis_spark.plans.testdata_queries import (
        q_join5_runway_attribution,
        q_join5_runway_attribution_grid,
    )

    plan = plan_of(q_join5_runway_attribution_grid(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # the compiled-coalesce sibling keeps its no-join shape
    assert "Join" not in plan_of(q_join5_runway_attribution(spark, SF))
