"""Repeated-passage mining, coverage filtering, masking
(datapipe/passages.py); SemDeDup pruning (similarity.semantic_dedup);
bloom-prefiltered decontamination (contamination)."""

import pytest
from pyspark.sql import functions as F

from dump1090_postgis_spark.datapipe import passages as ps

# "alpha beta gamma" is the boilerplate passage: planted in 4 of 5
# docs (min_df=4 → frequent); everything else is unique filler.
DOCS = [
    (1, "alpha beta gamma one two three four five six seven"),
    (2, "eight nine alpha beta gamma ten eleven twelve thirteen"),
    (3, "fourteen fifteen sixteen alpha beta gamma seventeen"),
    (4, "alpha beta gamma"),
    (5, "eighteen nineteen twenty twentyone twentytwo twentythree"),
    (6, "xy"),  # shorter than k=3 words: no 3-gram, coverage 0
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_passage_doc_freq_counts_documents_not_occurrences(spark):
    # the same gram twice within one doc must count once
    df = spark.createDataFrame(
        [(1, "a b c x a b c"), (2, "a b c y")], "doc_id long, text string"
    )
    freq = {r.g: r.n_docs for r in ps.passage_doc_freq(df).collect()}
    assert freq["a b c"] == 2


def test_frequent_passages_threshold(spark, docs):
    freq = {r.g for r in ps.frequent_passages(docs, min_df=4).collect()}
    assert freq == {"alpha beta gamma"}
    none = ps.frequent_passages(docs, min_df=5).count()
    assert none == 0


def test_passage_coverage_values(spark, docs):
    rows = {r.doc_id: r for r in ps.passage_coverage(docs, min_df=4).collect()}
    assert len(rows) == 6  # every doc, including uncovered ones
    # doc 4 is exactly the passage: fully covered, dropped at 0.5
    assert rows[4].covered_tokens == 3 and rows[4].coverage == 1.0
    assert not rows[4].keep
    # doc 1: 3 of 10 tokens covered
    assert rows[1].covered_tokens == 3 and rows[1].n_tokens == 10
    assert rows[1].coverage == 0.3 and rows[1].keep
    # doc 5: no frequent gram; doc 6: too short for any 3-gram
    assert rows[5].covered_tokens == 0 and rows[5].keep
    assert rows[6].covered_tokens == 0 and rows[6].n_tokens == 1


def test_passage_coverage_overlaps_do_not_double_count(spark):
    # "a b c" and "b c d" both frequent and overlapping: positions
    # 1..4 covered once each, not 3+3
    df = spark.createDataFrame(
        [(i, "a b c d") for i in range(1, 5)] + [(9, "z z z z")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in ps.passage_coverage(df, min_df=4).collect()}
    assert rows[1].covered_tokens == 4 and rows[1].coverage == 1.0


def test_mask_passages_rewrites_covered_positions(spark, docs):
    out = {r.doc_id: r for r in ps.mask_passages(docs, min_df=4).collect()}
    m1 = out[1]
    assert m1.n_masked == 3
    assert m1.masked_text.startswith("[DUP] [DUP] [DUP] one two")
    # untouched doc passes through verbatim
    assert out[5].masked_text == DOCS[4][1]
    assert out[5].n_masked == 0


def test_semantic_dedup_drops_near_identical_cluster_mates(spark):
    from dump1090_postgis_spark.datapipe.similarity import semantic_dedup

    # two near-identical vectors (cos ≈ 1) + two orthogonal ones
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.999, 0.01, 0.0, 0.0]),  # near-dup of 0
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [0.0, 0.0, 1.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r.vec_id: r.keep for r in
           semantic_dedup(emb, num_centroids=2, tau=0.9).collect()}
    assert out[0] is True      # canonical survivor = min id
    assert out[1] is False     # dropped against 0
    assert out[2] and out[3]   # orthogonal rows untouched


def test_bloom_contamination_matches_exact_path(spark):
    from dump1090_postgis_spark.datapipe.contamination import (
        ngram_contamination,
        ngram_contamination_bloom,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pred = F.col("doc_id") % 7 == 0
    exact = {(r.doc_id, r.n_hits)
             for r in ngram_contamination(docs, pred, k=8).collect()}
    bloom = {(r.doc_id, r.n_hits)
             for r in ngram_contamination_bloom(docs, pred, k=8).collect()}
    assert exact == bloom and exact


def test_bloom_bitmap_has_no_false_negatives(spark):
    from dump1090_postgis_spark.datapipe.contamination import (
        _might_contain,
        bloom_bitmap,
    )

    grams = spark.createDataFrame(
        [(f"gram {i}",) for i in range(200)], "g string"
    )
    bitmap = bloom_bitmap(grams)
    probed = (
        grams.crossJoin(F.broadcast(bitmap))
        .filter(_might_contain("g", 1 << 16, 5))
        .count()
    )
    assert probed == 200  # every inserted member must probe positive


def test_temperature_weights_upweight_small_sources(spark):
    from dump1090_postgis_spark.datapipe.packing import temperature_weights

    # big source: 9 docs x 4 tokens; small source: 1 doc x 4 tokens
    rows = [(i, "w x y z", "big") for i in range(9)] + [(9, "w x y z", "small")]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r.source: r for r in
           temperature_weights(df, alpha=0.3, budget_tokens=40).collect()}
    assert out["big"].total_tokens == 36 and out["small"].total_tokens == 4
    # α=0.3 compresses the 9:1 mass ratio to 36^.3 : 4^.3 ≈ 1.93 : 1
    assert out["big"].weight < 0.9 * 0.75  # far below proportional 0.9
    assert abs(out["big"].weight + out["small"].weight - 1.0) < 1e-6
    # small source must repeat (epochs > 1) and its rate caps at 1
    assert out["small"].epochs > 1.0 and out["small"].keep_rate == 1.0
    # alpha=1 recovers proportional weighting
    prop = {r.source: r.weight for r in
            temperature_weights(df, alpha=1.0, budget_tokens=40).collect()}
    assert abs(prop["big"] - 0.9) < 1e-6


def test_resize_meta_geometry(spark):
    from dump1090_postgis_spark.datapipe.multimodal import resize_meta

    meta = spark.createDataFrame(
        [(1, 64, 16, True), (2, 16, 64, True), (3, 8, 8, True),
         (4, None, None, False), (5, 1000, 1, True)],
        "doc_id long, width int, height int, ok boolean",
    )
    out = {r.doc_id: (r.out_w, r.out_h)
           for r in resize_meta(meta, 32, 32).collect()}
    assert out[1] == (32, 8)     # landscape scales by width
    assert out[2] == (8, 32)     # portrait scales by height
    assert out[3] == (8, 8)      # already within budget: untouched
    assert out[4] == (None, None)  # undecoded rows carry no plan
    assert out[5] == (32, 1)     # degenerate strip clamps to >= 1px


def test_byte_histogram_features_are_l2_normalized(spark):
    from dump1090_postgis_spark.datapipe.multimodal import (
        byte_histogram_features,
    )

    df = spark.createDataFrame(
        [(1, bytearray(b"\x00\x00\x10\xff")), (2, bytearray(b"")), (3, None)],
        "doc_id long, payload binary",
    )
    rows = byte_histogram_features(df, bins=16).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, {})[r.bin] = r.value
    # empty / NULL payloads emit nothing
    assert set(by_doc) == {1}
    v = by_doc[1]
    assert len(v) == 16
    # bytes 0x00,0x00 -> bin 0 (count 2); 0x10 -> bin 1; 0xff -> bin 15
    import math
    z = math.sqrt(2 * 2 + 1 + 1)
    assert abs(v[0] - 2 / z) < 1e-12 and abs(v[1] - 1 / z) < 1e-12
    assert abs(v[15] - 1 / z) < 1e-12 and v[2] == 0.0
    # L2 norm = 1
    assert abs(sum(x * x for x in v.values()) - 1.0) < 1e-9


def test_corpus_diff_classifies_all_four_states(spark):
    from dump1090_postgis_spark.datapipe.versioning import (
        changed_set,
        corpus_diff,
        diff_summary,
    )

    old = spark.createDataFrame(
        [(1, "same"), (2, "will change"), (3, "will vanish")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(1, "same"), (2, "changed now"), (4, "brand new")],
        "doc_id long, text string",
    )
    st = {r.doc_id: r.status for r in corpus_diff(old, new).collect()}
    assert st == {1: "unchanged", 2: "changed", 3: "removed", 4: "added"}
    summary = {r.status: r.n for r in diff_summary(old, new).collect()}
    assert summary == {"unchanged": 1, "changed": 1, "removed": 1, "added": 1}
    # the incremental work list = new-side added+changed rows
    work = {r.doc_id for r in changed_set(old, new).collect()}
    assert work == {2, 4}


def test_gram_novelty_first_seen_wins(spark):
    from dump1090_postgis_spark.datapipe.passages import gram_novelty

    rows = [
        (1, "a b c d"),          # grams: abc, bcd — all first here
        (2, "a b c d"),          # exact dup: nothing novel
        (3, "a b c x y z"),      # abc seen; bcx, cxy, xyz novel
        (4, "q r"),              # too short: absent
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in gram_novelty(docs).collect()}
    assert set(got) == {1, 2, 3}
    assert (got[1].n_grams, got[1].n_novel, got[1].novelty) == (2, 2, 1.0)
    assert (got[2].n_grams, got[2].n_novel, got[2].novelty) == (2, 0, 0.0)
    assert (got[3].n_grams, got[3].n_novel, got[3].novelty) == (4, 3, 0.75)


def test_semantic_dedup_auto_k_rule_and_floor():
    """Auto-k must floor at 8 (the oracle's hardcoded seeding modulus)
    below the 8k-row knee and grow as ceil(n / target) past it — a
    FIXED k is the scale hazard (O((n/k)^2) per cluster)."""
    from dump1090_postgis_spark.datapipe.similarity import (
        semantic_dedup_auto_k,
    )

    assert semantic_dedup_auto_k(0) == 8
    assert semantic_dedup_auto_k(500) == 8      # sf0.01 embeddings
    assert semantic_dedup_auto_k(2_000) == 8    # sf0.1 embeddings
    assert semantic_dedup_auto_k(8 * 1024) == 8          # the knee
    assert semantic_dedup_auto_k(8 * 1024 + 1) == 9
    assert semantic_dedup_auto_k(200_000) == 196         # ×100 bench
    assert semantic_dedup_auto_k(1_000_000, target_cluster_size=500) == 2000


def test_semantic_dedup_auto_k_matches_pinned_k_below_floor(spark):
    """num_centroids=None must be bit-identical to num_centroids=8 on
    any corpus under the floor knee — this is what keeps the
    registry query's DuckDB oracle (vec_id % 8 seeding) valid."""
    from dump1090_postgis_spark.datapipe.similarity import semantic_dedup
    from dump1090_postgis_spark.schemas import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    auto = {
        (r.vec_id, r.list_id, r.keep)
        for r in semantic_dedup(emb, num_centroids=None, tau=0.3).collect()
    }
    pinned = {
        (r.vec_id, r.list_id, r.keep)
        for r in semantic_dedup(emb, num_centroids=8, tau=0.3).collect()
    }
    assert auto == pinned and len(auto) > 0


def _sincos_geometry(spark, k=30, dim=6, n=80, step=1.7):
    """Adversarial assignment geometry: k centroids ``step`` radians
    apart on a sine curve and n corpus rows on a cosine curve, many of
    them near a coarse-cell boundary of a two-level centroid tree."""
    import math

    cdf = spark.createDataFrame(
        [(j, [math.sin(j * step + d) for d in range(dim)]) for j in range(k)],
        "centroid_id bigint, centroid array<double>",
    )
    corpus = spark.createDataFrame(
        [(i, [math.cos(i * 0.9 + d) for d in range(dim)]) for i in range(n)],
        "vec_id bigint, embedding array<float>",
    )
    return corpus, cdf


def test_over_budget_default_assignment_is_exact_on_adversarial_geometry(
    spark, monkeypatch
):
    """Past the literal budget with_nearest_centroid ranks the same
    centroids from a broadcast one-row frame: exact on ANY geometry,
    declarative (no Python node in the plan), and equal to the literal
    path and to the all-k Arrow matmul the callers' FLOPs gates pick.
    This is what makes the over-budget ivf_topk query probing
    symmetric with its corpus assignment."""
    from dump1090_postgis_spark.datapipe import similarity as sim

    corpus, cdf = _sincos_geometry(spark)
    flat = {
        (r.vec_id, r.list_id)
        for r in sim.with_nearest_centroid(corpus, cdf, "embedding").collect()
    }
    vectorized = {
        (r.vec_id, r.list_id)
        for r in sim._assign_nearest_vectorized(corpus, cdf, "embedding").collect()
    }
    monkeypatch.setattr(sim, "_LITERAL_COMPILE_LIMIT", 1)
    over = sim.with_nearest_centroid(corpus, cdf, "embedding")
    assert "MapInPandas" not in over._jdf.queryExecution().executedPlan().toString()
    exact = {(r.vec_id, r.list_id) for r in over.collect()}
    assert exact == flat == vectorized and len(exact) == 80


def test_semantic_dedup_over_literal_budget_is_exact(spark, monkeypatch):
    """Past the literal budget (k·dim > 20,000, e.g. the default k=8 on
    embeddings wider than 2,500 dims) the default semantic_dedup
    assignment must stay exact: same list_id and keep flag for every
    row as the literal path.  On this geometry a two-level tree with 2
    of its 6 coarse cells probed puts 7 of the 80 rows in another
    cluster."""
    from dump1090_postgis_spark.datapipe import similarity as sim

    corpus, cdf = _sincos_geometry(spark, step=0.37)

    def run():
        return {
            (r.vec_id, r.list_id, r.keep)
            for r in sim.semantic_dedup(
                corpus, centroids=cdf, tau=0.95
            ).collect()
        }

    literal = run()
    monkeypatch.setattr(sim, "_LITERAL_COMPILE_LIMIT", 1)
    assert run() == literal and len(literal) == 80


def test_numpy_tree_assignment_matches_exact_on_separated_clusters(spark):
    """coarse_probes on the vectorized assigner must reproduce the
    exact all-k matmul on well-separated geometry at default probes,
    and on ANY geometry with exhaustive probes — including NULL /
    NULL-element / NaN / zero-norm rows (min-centroid-id fallback on
    both paths)."""
    from dump1090_postgis_spark.datapipe import similarity as sim

    k, dim = 24, 8
    cents = []
    for j in range(k):
        v = [0.0] * dim
        v[j % dim] = 1.0 + 0.05 * (j // dim)
        v[(j + 3) % dim] = 0.3 * (j // dim + 1)
        cents.append((j, v))
    cdf = spark.createDataFrame(
        cents, "centroid_id bigint, centroid array<double>"
    )
    rows = []
    for i in range(120):
        base = cents[i % k][1]
        rows.append(
            (i, [x + 0.01 * ((i * 7 + d) % 5 - 2) for d, x in enumerate(base)])
        )
    rows += [
        (200, None),                       # NULL vector
        (201, [None] + [1.0] * (dim - 1)),  # NULL element
        (202, [float("nan")] + [1.0] * (dim - 1)),  # NaN component
        (203, [0.0] * dim),                 # zero norm
    ]
    corpus = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    exact = {
        (r.vec_id, r.list_id)
        for r in sim._assign_nearest_vectorized(
            corpus, cdf, "embedding"
        ).collect()
    }
    tree = {
        (r.vec_id, r.list_id)
        for r in sim._assign_nearest_vectorized(
            corpus, cdf, "embedding", coarse_probes=2
        ).collect()
    }
    assert tree == exact and len(tree) == 124
    for bad_id in (200, 201, 202, 203):
        assert (bad_id, 0) in tree  # min-centroid-id fallback

    # adversarial geometry: exhaustive probes == exact
    k2 = 30
    corpus2, cents2 = _sincos_geometry(spark, k=k2)
    exact2 = {
        (r.vec_id, r.list_id)
        for r in sim._assign_nearest_vectorized(
            corpus2, cents2, "embedding"
        ).collect()
    }
    tree2 = {
        (r.vec_id, r.list_id)
        for r in sim._assign_nearest_vectorized(
            corpus2, cents2, "embedding", coarse_probes=k2
        ).collect()
    }
    assert tree2 == exact2


def test_semantic_dedup_assignment_probes_contract(spark, monkeypatch):
    """Past _ASSIGN_EXACT_MAX_FLOPS the vectorized engine assigns with
    the numpy tree (_TREE_COARSE_PROBES coarse probes); with probes
    covering every coarse cell it must give the same verdicts as the
    exact all-k assignment."""
    from dump1090_postgis_spark.datapipe import similarity as sim
    from dump1090_postgis_spark.schemas import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    n = emb.count()
    calls: list = []
    orig = sim._assign_nearest_vectorized

    def spy(df, centroids, vec, out="list_id", coarse_probes=None):
        calls.append(coarse_probes)
        return orig(df, centroids, vec, out, coarse_probes=coarse_probes)

    monkeypatch.setattr(sim, "_assign_nearest_vectorized", spy)
    monkeypatch.setattr(sim, "_SEM_VECTORIZE_MIN_ROWS", n)

    def run():
        return {
            (r.vec_id, r.keep)
            for r in sim.semantic_dedup(
                emb, num_centroids=8, tau=0.3, corpus_rows=n
            ).collect()
        }

    exact = run()
    monkeypatch.setattr(sim, "_ASSIGN_EXACT_MAX_FLOPS", 1.0)
    monkeypatch.setattr(sim, "_TREE_COARSE_PROBES", 8)  # ≥ the 3 coarse cells
    probed = run()
    assert calls == [None, 8]
    assert probed == exact and len(probed) == n


def test_ivf_topk_over_budget_matches_literal_plan(spark, monkeypatch):
    """ivf_topk past the literal budget (exact vectorized corpus
    assignment + crossJoin-array query probing) must return the same
    neighbors as the literal-compiled plan at equal probes — both
    sides of the probe structure are exact, so only the compile
    strategy differs."""
    from dump1090_postgis_spark.datapipe import similarity as sim
    from dump1090_postgis_spark.schemas import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    corpus = emb.limit(200)
    queries = emb.limit(5)
    cents = sim.build_centroids(corpus, 8)
    lit = {
        (r.query_id, r.rank, r.neighbor_id, r.cosine)
        for r in sim.ivf_topk(corpus, queries, cents, k=3, probes=2).collect()
    }
    monkeypatch.setattr(sim, "_LITERAL_COMPILE_LIMIT", 1)
    over = {
        (r.query_id, r.rank, r.neighbor_id, r.cosine)
        for r in sim.ivf_topk(corpus, queries, cents, k=3, probes=2).collect()
    }
    assert over == lit and len(over) > 0


def test_over_budget_probing_reads_collected_centroids(spark, sf_dir, monkeypatch):
    """Past the literal budget the query probes rank the centroid rows
    the caller already collected (a broadcast one-row LocalRelation),
    never the lazy centroid frame: the optimized plans of
    with_probed_centroids and of ivf_topk hold no Aggregate and scan
    each input once, as under the budget."""
    import re

    from dump1090_postgis_spark.datapipe import similarity as sim
    from dump1090_postgis_spark.schemas import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.limit(200)
    queries = emb.limit(5)
    cents = sim.build_centroids(corpus, 8)

    def shape(df):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        aggregates = len(re.findall(r"^[\s:+-]*Aggregate ", plan, re.M))
        return aggregates, len(re.findall(r"Relation \[[^\]]*\] parquet", plan))

    def plans():
        return (
            shape(sim.with_probed_centroids(queries, cents, 2, "embedding")),
            shape(sim.ivf_topk(corpus, queries, cents, k=3, probes=2)),
        )

    literal = plans()
    assert literal == ((0, 1), (0, 2))
    monkeypatch.setattr(sim, "_LITERAL_COMPILE_LIMIT", 1)
    assert plans() == literal


def _job_descriptions(spark, build):
    """Descriptions of the Spark jobs ``build()`` runs."""
    sc = spark.sparkContext

    def jobs():
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        listed = sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava(
            sc._jsc.sc().statusStore().jobsList(None)
        )
        return {
            j.jobId(): j.description().get() if j.description().isDefined() else ""
            for j in listed
        }

    last = max(jobs(), default=-1)
    build()
    return [d for i, d in sorted(jobs().items()) if i > last]


@pytest.mark.parametrize(
    "query, scope, eager_jobs",
    [
        ("semdedup_prune", "datapipe.similarity.semantic_dedup", 6),
        ("ann_topk_ivf", "datapipe.similarity.ivf_topk", 4),
    ],
)
def test_similarity_build_jobs_are_pinned_and_named(
    spark, sf_dir, query, scope, eager_jobs
):
    """The jobs an oracle query runs while it builds its plan at sf0.01
    are pinned: the parquet read's schema job, then the centroid
    collect and its stages, each named after the similarity entry
    point that ran it."""
    import os

    from dump1090_postgis_spark.plans.datapipe_queries import REGISTRY

    sf001 = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    descs = _job_descriptions(spark, lambda: REGISTRY[query][0](spark, sf001))
    assert len(descs) == eager_jobs, descs
    assert scope not in descs[0] and all(scope in d for d in descs[1:]), descs


def test_ivf_degenerate_corpus_vectors_never_rank_first(spark, monkeypatch):
    """A NULL-element corpus vector must score cosine NULL (ranked
    LAST) in BOTH assignment engines.  The over-budget mapInPandas
    assignment round-trips the vector column through Arrow, which
    rewrites NULL elements to NaN — unguarded, the scoring cosine
    became NaN and nanSafeCompare ranked the corrupt vector FIRST for
    every query probing its cell.  pq_encode_residual has the same
    hazard one step later: floor(NaN).cast(int) RAISES under ANSI —
    degenerate rows must encode q_res NULL / q_scale 1.0 instead."""
    from dump1090_postgis_spark.datapipe import similarity as sim

    rows = [(i, [float((i * 7 + j * 3) % 11) / 11.0 + 0.1 for j in range(8)])
            for i in range(40)]
    rows.append((99, [None] + [1.0] * 7))  # NULL-element corpus vector
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = corpus.filter("vec_id < 3")
    cents = sim.build_centroids(corpus.filter("vec_id != 99"), 4)

    def run():
        out = sim.ivf_topk(corpus, queries, cents, k=50, probes=4).collect()
        coded = {
            r.vec_id: (r.q_res, r.q_scale)
            for r in sim.pq_encode_residual(corpus, cents).collect()
        }
        return out, coded

    for label in ("literal", "over_budget"):
        if label == "over_budget":
            monkeypatch.setattr(sim, "_LITERAL_COMPILE_LIMIT", 1)
        out, coded = run()
        deg = [r for r in out if r.neighbor_id == 99]
        assert deg, f"{label}: probed cells should still surface id 99"
        assert all(r.cosine is None for r in deg), label
        # NULL sorts last under desc → never rank 1
        assert all(r.rank > 1 for r in deg), label
        assert coded[99] == (None, 1.0), label
        assert coded[0][0] is not None and len(coded[0][0]) == 8, label


def test_semantic_dedup_collapse_exact_equals_full_pairwise(spark):
    """collapse_exact=True must be bit-identical to the full pairwise
    on a corpus with identical-vector groups (including a group whose
    representative is itself near-dup to a lower-id distinct vector),
    plus NULL-vector rows — which are inert in the pairwise (cosine
    NULL, never >= tau) and must survive as their own representatives,
    even when duplicated (NULL is NOT cos-1 to its copy).  Zero-norm
    vectors are out of contract in BOTH modes: the ANSI assignment
    cosine raises DIVIDE_BY_ZERO (pre-existing; the quality screens in
    this package flag zero-norm embeddings upstream)."""
    from dump1090_postgis_spark.datapipe.similarity import semantic_dedup

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.999, 0.01, 0.0, 0.0]),   # near-dup of 0 (distinct vector)
        (2, [0.999, 0.01, 0.0, 0.0]),   # identical to 1 → dropped vs 1
        (3, [0.999, 0.01, 0.0, 0.0]),   # identical to 1 → dropped vs 1
        (4, [0.0, 1.0, 0.0, 0.0]),
        (5, [0.0, 1.0, 0.0, 0.0]),      # identical to 4
        (6, [0.0, 0.0, 1.0, 0.0]),      # singleton
        (7, None),                       # null vector: inert
        (8, None),                       # null copy: must also KEEP
        # NaN vectors are NOT inert: Spark's nanSafeCompare orders NaN
        # above everything, so round(NaN,4) >= tau is TRUE — a NaN row
        # is dropped by ANY lower-id cluster-mate (and would drop any
        # higher-id one).  _n2(NaN) > 0 is TRUE too, so NaN rows ARE
        # collapsible; both modes must agree row-for-row.
        (9, [float("nan"), 1.0, 0.0, 0.0]),
        (10, [float("nan"), 1.0, 0.0, 0.0]),  # identical NaN copy
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    full = {
        (r.vec_id, r.list_id, r.keep)
        for r in semantic_dedup(
            emb, num_centroids=2, tau=0.9, collapse_exact=False
        ).collect()
    }
    collapsed = {
        (r.vec_id, r.list_id, r.keep)
        for r in semantic_dedup(
            emb, num_centroids=2, tau=0.9, collapse_exact=True
        ).collect()
    }
    assert collapsed == full and len(collapsed) == 11
    keep = {v: k for v, _, k in collapsed}
    assert keep[7] and keep[8]                  # null rows survive
    assert not keep[2] and not keep[3] and not keep[5]  # identical copies drop
    assert not keep[1]                          # near-dup of 0 drops
    # the identical NaN copy drops against its twin in BOTH modes
    # (cosine NaN >= tau is TRUE under Spark NaN ordering; collapse
    # drops it as a non-representative) — the rep's own fate depends
    # on which cluster the NaN vector lands in, asserted only via the
    # mode-equivalence above.
    assert not keep[10]


def test_semantic_dedup_collapse_exact_on_replicated_corpus(spark):
    """Replication-shaped corpus (every vector duplicated many times,
    the ×N bench shape): collapse must agree with the full pairwise
    row-for-row."""
    import math

    from dump1090_postgis_spark.datapipe.similarity import semantic_dedup

    base = [
        [math.sin(j * 1.3 + d) for d in range(6)] for j in range(12)
    ]
    rows = [
        (i * 12 + j, base[j]) for i in range(9) for j in range(12)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    full = {
        (r.vec_id, r.list_id, r.keep)
        for r in semantic_dedup(
            emb, num_centroids=4, tau=0.5, collapse_exact=False
        ).collect()
    }
    collapsed = {
        (r.vec_id, r.list_id, r.keep)
        for r in semantic_dedup(
            emb, num_centroids=4, tau=0.5, collapse_exact=True
        ).collect()
    }
    assert collapsed == full and len(collapsed) == 108


def test_semantic_dedup_vectorized_pairwise_matches_join(spark, monkeypatch):
    """The Arrow/numpy matmul pairwise (past _SEM_VECTORIZE_MIN_ROWS)
    must agree row-for-row with the codegen'd salted self-join —
    including the edge rows where Spark comparison semantics bite:
    NULL vectors and NULL-element vectors (inert),
    NaN-component vectors (poisonous: NaN >= tau is TRUE under
    nanSafeCompare), exact duplicates, and near-duplicates — in both
    collapse modes."""
    import math

    from dump1090_postgis_spark.datapipe import similarity as sim

    base = [[math.sin(j * 1.7 + d) for d in range(6)] for j in range(10)]
    rows = []
    for i in range(4):                       # exact dup families
        for j in range(10):
            rows.append((i * 10 + j, base[j]))
    for j in range(10):                      # near-dups of base
        rows.append((40 + j, [v + 0.001 * j for v in base[j]]))
    rows += [
        (50, None),                          # NULL vector: inert
        (51, None),
        (52, [1.0, None, 0.0, 0.0, 0.0, 0.0]),   # NULL element: inert
        (53, [float("nan"), 1.0, 0.0, 0.0, 0.0, 0.0]),  # NaN: poisonous
        (54, [float("nan"), 1.0, 0.0, 0.0, 0.0, 0.0]),  # identical NaN
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def run(collapse, corpus_rows=None):
        out = sim.semantic_dedup(
            emb, num_centroids=3, tau=0.6,
            collapse_exact=collapse, corpus_rows=corpus_rows,
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        got = {(r.vec_id, r.list_id, r.keep) for r in out.collect()}
        return "FlatMapGroupsInPandas" in plan, got

    monkeypatch.setattr(sim, "_SEM_VECTORIZE_MIN_ROWS", len(rows))
    for collapse in (False, True):
        # no hint: no scale signal, the join engine; the accurate
        # hint reaches the patched gate, the vectorized engine
        join_pandas, joined = run(collapse)
        vec_pandas, vec = run(collapse, corpus_rows=len(rows))
        assert (join_pandas, vec_pandas) == (False, True)
        assert vec == joined and len(vec) == 55, f"collapse={collapse}"


def test_semantic_dedup_auto_gate_picks_vectorized_past_budget(spark, monkeypatch):
    """pairwise='auto' must stay on the bit-exact join engine at every
    oracle scale (explicit k, or auto-k counts below the budget) and
    switch to the Arrow matmul only past _SEM_VECTORIZE_MIN_ROWS —
    observable as a FlatMapGroupsInPandas node in the plan."""
    from dump1090_postgis_spark.datapipe import similarity as sim

    emb = spark.createDataFrame(
        [(i, [float(i % 7), 1.0, 0.5]) for i in range(60)],
        "vec_id long, embedding array<float>",
    )
    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    # explicit k → join engine, no pandas node
    assert "FlatMapGroupsInPandas" not in plan(
        sim.semantic_dedup(emb, num_centroids=4, tau=0.5)
    )
    # auto-k below budget → join engine
    assert "FlatMapGroupsInPandas" not in plan(
        sim.semantic_dedup(emb, num_centroids=None, tau=0.5)
    )
    # auto-k past (patched) budget → vectorized engine
    monkeypatch.setattr(sim, "_SEM_VECTORIZE_MIN_ROWS", 10)
    assert "FlatMapGroupsInPandas" in plan(
        sim.semantic_dedup(emb, num_centroids=None, tau=0.5)
    )


def test_resolve_assignment_probes_is_flops_budgeted():
    """The assignment-engine rule is a FLOPs property (n·k·dim), not a
    row count: the measured decades pin the flip between ×1000
    (2.5e11 — exact, and exact was a minor term of a 39 s envelope)
    and ×10000 (2.5e13 — exact 1,519 s vs tree 813 s).  A wide-k or
    high-dim corpus flips at proportionally fewer rows."""
    from dump1090_postgis_spark.datapipe import similarity as sim

    # the measured decade points (auto-k at 64 dims)
    assert sim.resolve_assignment_probes(2_000_000, 1954, 64) is None
    assert (
        sim.resolve_assignment_probes(20_000_000, 19532, 64)
        == sim._TREE_COARSE_PROBES
    )
    assert (
        sim.resolve_assignment_probes(60_000_000, 58594, 64)
        == sim._TREE_COARSE_PROBES
    )
    # FLOPs, not rows: few rows × wide k × high dim still flips
    assert (
        sim.resolve_assignment_probes(40_000, 100_000, 1024)
        == sim._TREE_COARSE_PROBES
    )
    # and many rows × tiny k × small dim stays exact
    assert sim.resolve_assignment_probes(100_000_000, 16, 8) is None


def test_semantic_dedup_assignment_engine_auto_wiring(spark, monkeypatch):
    """assignment_probes='auto' (the default) must (a) stay off the
    Python assigner entirely on oracle-scale corpora (pairwise
    resolves to 'join'), (b) pick the EXACT all-k matmul under the
    FLOPs budget, (c) pick the two-level tree past it — without the
    caller touching any knob."""
    from dump1090_postgis_spark.datapipe import similarity as sim

    rows = [
        (i, [float((i * 13 + j * 5) % 17) / 17.0 + 0.05 for j in range(8)])
        for i in range(300)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    calls: list = []
    orig = sim._assign_nearest_vectorized

    def spy(df, centroids, vec, out="list_id", coarse_probes=None):
        calls.append(coarse_probes)
        return orig(df, centroids, vec, out, coarse_probes=coarse_probes)

    monkeypatch.setattr(sim, "_assign_nearest_vectorized", spy)

    # (a) oracle scale: auto-k resolves pairwise='join' → no Python seam
    sim.semantic_dedup(emb, num_centroids=None, tau=0.3).collect()
    assert calls == []

    # (b) force the vectorized gate open: under budget → exact (None)
    monkeypatch.setattr(sim, "_SEM_VECTORIZE_MIN_ROWS", 10)
    exact_out = {
        (r.vec_id, r.keep)
        for r in sim.semantic_dedup(emb, num_centroids=None, tau=0.3).collect()
    }
    assert calls == [None]

    # (c) shrink the budget: auto now picks the tree
    monkeypatch.setattr(sim, "_ASSIGN_EXACT_MAX_FLOPS", 1.0)
    tree_out = {
        (r.vec_id, r.keep)
        for r in sim.semantic_dedup(emb, num_centroids=None, tau=0.3).collect()
    }
    assert calls == [None, sim._TREE_COARSE_PROBES]

    # kept-divergence bound: the tree is approximate only at coarse
    # Voronoi boundaries — the kept set may move, bounded (measured
    # 6/1900 at ×10000; pin ≤5% here)
    n = len(exact_out)
    diverged = len(exact_out ^ tree_out) / 2
    assert diverged / n <= 0.05, f"{diverged}/{n} kept-flags diverged"
