"""Cluster resolution, decontamination, and sampling: connected
components reach the min label across chains; duplicate_clusters keeps
one canonical per cluster; contamination flags only true n-gram
overlap; hash splits are deterministic and growth-stable; the salted
two-phase top-N equals the plain window."""

import pytest
from pyspark.sql import functions as F

from dump1090_postgis_spark.datapipe.cluster import (
    connected_components,
    duplicate_clusters,
)
from dump1090_postgis_spark.datapipe.contamination import (
    decontaminate,
    ngram_contamination,
)
from dump1090_postgis_spark.datapipe.sampling import (
    hash_bucket,
    hash_split,
    top_n_per_key,
)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "id_a long, id_b long")


def test_connected_components_chain_and_island(spark):
    # path 1-2-3-4 (diameter 3, needs >1 propagation round) + island 7-8
    comp = dict(
        connected_components(_edges(spark, [(1, 2), (2, 3), (3, 4), (7, 8)]))
        .collect()
    )
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 7: 7, 8: 7}


def test_connected_components_merges_via_shared_node(spark):
    # two stars sharing node 5 collapse into one component
    comp = dict(
        connected_components(
            _edges(spark, [(10, 5), (11, 5), (5, 20), (20, 21)])
        ).collect()
    )
    assert set(comp.values()) == {5}


def test_duplicate_clusters_singletons_and_canonicals(spark):
    docs = spark.createDataFrame(
        [(i,) for i in range(1, 7)], "doc_id long"
    )
    out = {
        r.doc_id: (r.component, r.cluster_size, r.is_canonical)
        for r in duplicate_clusters(docs, _edges(spark, [(1, 2), (2, 3), (5, 6)]))
        .collect()
    }
    assert out[1] == (1, 3, True)
    assert out[2] == (1, 3, False) and out[3] == (1, 3, False)
    assert out[4] == (4, 1, True)  # singleton: own component
    assert out[5] == (5, 2, True) and out[6] == (5, 2, False)
    # exactly one canonical per component
    canon = [d for d, (_, _, c) in out.items() if c]
    assert sorted(canon) == [1, 4, 5]


def test_duplicate_clusters_contracted_matches_full_graph(spark):
    """Supernode contraction (contract_families + rep-only pair
    generation) must produce the same (component, size, canonical)
    rows as connected components over the full quadratic pair list —
    the ×N replication shape: exact-dup families whose members all
    pair with each other and with every neighbor of the family."""
    from dump1090_postgis_spark.datapipe import dedup as dd
    from dump1090_postgis_spark.datapipe.cluster import (
        contract_families,
        duplicate_clusters,
    )

    texts = {
        "a": "the quick brown fox jumps over the lazy dog tonight",
        # near-dup of a (one word changed)
        "b": "the quick brown fox jumps over the lazy cat tonight",
        "c": "completely different content about spark shuffle plans",
        "d": "another unrelated document mentioning parquet footers",
    }
    # families: a ×3 (ids 0,1,2), b ×2 (ids 3,4), c ×2 (ids 5,6), d ×1 (id 7)
    rows = [
        (0, texts["a"]), (1, texts["a"]), (2, texts["a"]),
        (3, texts["b"]), (4, texts["b"]),
        (5, texts["c"]), (6, texts["c"]),
        (7, texts["d"]),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # full quadratic pipeline (as before round 7)
    cands = dd.lsh_candidate_pairs(docs, hash_family="md5")
    pairs = dd.jaccard_pairs(docs, cands, threshold=0.5)
    full = {
        (r.doc_id, r.component, r.cluster_size, r.is_canonical)
        for r in duplicate_clusters(docs, pairs).collect()
    }
    # contracted pipeline: pairs on representatives only
    fam = contract_families(docs)
    rep_docs = docs.join(
        fam.filter(F.col("node") == F.col("rep")).select(
            F.col("node").alias("doc_id")
        ),
        "doc_id",
        "semi",
    )
    rcands = dd.lsh_candidate_pairs(rep_docs, hash_family="md5")
    rpairs = dd.jaccard_pairs(rep_docs, rcands, threshold=0.5)
    contracted = {
        (r.doc_id, r.component, r.cluster_size, r.is_canonical)
        for r in duplicate_clusters(docs, rpairs, contract=fam).collect()
    }
    assert contracted == full and len(contracted) == 8
    # sanity on the expected shape: {a-family ∪ b-family} is one
    # 5-doc cluster (a ~ b near-dup), c-family is a 2-doc cluster
    # with NO cross-family edge, d is a singleton.
    comp = {d: c for d, c, _, _ in contracted}
    assert comp[0] == comp[3] == 0 and comp[5] == comp[6] == 5
    assert comp[7] == 7


def test_cluster_map_store_cold_warm_and_invalidation(spark, tmp_path):
    """The persisted cluster-map seam (round-12 verdict #1): cold call
    builds and persists; warm call with a matching witness NEVER runs
    the builder and returns identical rows (reuse ≡ rebuild); any
    corpus-content change, parameter change, or torn build (witness
    missing) rebuilds rather than serving a stale map."""
    from dump1090_postgis_spark.datapipe.cluster import (
        cluster_map_store,
        duplicate_clusters,
    )

    rows = [
        (0, "the quick brown fox jumps over the lazy dog tonight"),
        (1, "the quick brown fox jumps over the lazy dog tonight"),
        (2, "the quick brown fox jumps over the lazy cat tonight"),
        (3, "completely different content about spark shuffle plans"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "cluster_map")
    calls = []

    def builder(d):
        calls.append(1)
        from dump1090_postgis_spark.datapipe import dedup as dd

        cands = dd.lsh_candidate_pairs(d, hash_family="md5")
        pairs = dd.jaccard_pairs(d, cands, threshold=0.5)
        return duplicate_clusters(d, pairs)

    params = {"threshold": 0.5, "family": "md5"}

    def rows_of(df):
        return sorted(tuple(r) for r in df.collect())

    cold = rows_of(cluster_map_store(docs, path, builder, params))
    assert len(calls) == 1 and len(cold) == 4
    # warm: witness matches → builder NOT called, identical rows,
    # identical column order (reuse ≡ rebuild)
    warm_df = cluster_map_store(docs, path, builder, params)
    assert len(calls) == 1
    assert rows_of(warm_df) == cold
    assert warm_df.columns == [
        "doc_id", "component", "cluster_size", "is_canonical"
    ]
    # row-order independence: the same corpus arriving shuffled (or
    # differently partitioned) must still hit the cache — the
    # fingerprint is a commutative fold
    shuffled = spark.createDataFrame(list(reversed(rows)),
                                     "doc_id long, text string")
    cluster_map_store(shuffled.repartition(3), path, builder, params)
    assert len(calls) == 1
    # content change (one text edited) → witness mismatch → rebuild
    changed = spark.createDataFrame(
        rows[:3] + [(3, "edited text that is no longer the same")],
        "doc_id long, text string",
    )
    cluster_map_store(changed, path, builder, params)
    assert len(calls) == 2
    # parameter change → rebuild even though the corpus matches
    cluster_map_store(changed, path, builder, {**params, "threshold": 0.8})
    assert len(calls) == 3
    # torn build: witness sidecar gone → loudly rebuilt, not reused
    import shutil

    from dump1090_postgis_spark.datapipe.artifact_io import _WITNESS

    shutil.rmtree(f"{path}/{_WITNESS}")
    out = rows_of(
        cluster_map_store(changed, path, builder,
                          {**params, "threshold": 0.8})
    )
    assert len(calls) == 4 and len(out) == 4


def test_q_dedup_keep_best_reuses_cluster_artifact(spark, tmp_path, monkeypatch):
    """Entry-level reuse: with a warm artifact, q_dedup_keep_best and a
    second q_dedup_clusters call must not re-enter the closure builder
    (the 7.5-of-9.2-s cost the seam exists to remove), and their
    results must equal the cold run's."""
    from dump1090_postgis_spark.plans import datapipe_queries as dq

    monkeypatch.setattr(dq, "_ARTIFACTS_DIR", str(tmp_path))
    sf = "/root/testdata/sf0.001"
    calls = []
    from dump1090_postgis_spark.datapipe import cluster as cl

    real_builder_entry = cl.connected_components

    def counting_cc(*a, **kw):
        calls.append(1)
        return real_builder_entry(*a, **kw)

    monkeypatch.setattr(cl, "connected_components", counting_cc)

    def rows_of(df):
        return sorted(tuple(r) for r in df.collect())

    cold_clusters = rows_of(dq.q_dedup_clusters(spark, sf))
    assert len(calls) == 1
    warm_clusters = rows_of(dq.q_dedup_clusters(spark, sf))
    assert len(calls) == 1 and warm_clusters == cold_clusters
    kept = rows_of(dq.q_dedup_keep_best(spark, sf))
    assert len(calls) == 1 and len(kept) > 0


def test_update_cluster_map_matches_full_rebuild(spark):
    """Incremental cluster maintenance (round-13): merging a new batch
    into an existing map must equal duplicate_clusters over the union
    corpus — across every merge shape: join-an-old-cluster, NEW
    bridge doc MERGING two disjoint old clusters (components relabel
    to the global min), new-new cluster, new singleton, untouched old
    rows passing through — and the signature-store path (old_banded=)
    must give identical rows to re-hashing the history."""
    from dump1090_postgis_spark.datapipe import dedup as dd
    from dump1090_postgis_spark.datapipe.cluster import (
        duplicate_clusters,
        update_cluster_map,
    )

    w = [f"w{i}" for i in range(18)]
    X = " ".join(w[0:12])    # old cluster A (ids 0,1)
    Y = " ".join(w[6:18])    # old cluster B (ids 3,4) — jaccard(X,Y)=0.25
    B = " ".join(w[3:15])    # bridge: jaccard ≈ 0.54 to BOTH X and Y
    C = "completely different content about spark shuffle plans"
    E = "entirely new material discussing broadcast joins deeply"
    Z = "a third standalone topic covering adaptive query execution"
    # Z-family exercises the exact-only AGGREGATE path with a
    # label-undercut: new id 6 < old label 20, so the whole component
    # must relabel to 6 without any CC involvement
    old_rows = [(0, X), (1, X), (3, Y), (4, Y), (5, C), (20, Z), (21, Z)]
    new_rows = [(10, B), (11, C), (12, E), (13, E), (6, Z)]
    old = spark.createDataFrame(old_rows, "doc_id long, text string")
    new = spark.createDataFrame(new_rows, "doc_id long, text string")
    union = spark.createDataFrame(old_rows + new_rows,
                                  "doc_id long, text string")
    # bands=16 (one minhash row per band): candidate recall ~1 at the
    # bridge's 0.54 jaccard, so the merge shape is deterministic
    kw = dict(hash_family="md5", bands=16, max_bucket_size=None)

    def build(docs):
        cands = dd.lsh_candidate_pairs(docs, **kw)
        pairs = dd.jaccard_pairs(docs, cands, threshold=0.5)
        return duplicate_clusters(docs, pairs)

    def rows_of(df):
        return sorted(tuple(r) for r in df.collect())

    old_map = build(old).localCheckpoint(eager=True)
    inc = rows_of(
        update_cluster_map(old, old_map, new, threshold=0.5, **kw)
    )
    full = rows_of(build(union))
    assert inc == full
    by_id = {r[0]: r for r in inc}
    # the bridge merged BOTH old clusters: one component, global min
    # label, size 5, old canonical of cluster B dethroned
    assert by_id[0][1] == by_id[3][1] == by_id[10][1] == 0
    assert by_id[0][2] == 5 and by_id[0][3] and not by_id[3][3]
    # untouched old cluster passes through; new exact-dup joined it
    assert by_id[5][1] == by_id[11][1] == 5 and by_id[5][2] == 2
    # new-new cluster resolved among themselves
    assert by_id[12][1] == by_id[13][1] == 12 and by_id[12][2] == 2
    # exact-only aggregate path with label undercut: comp {20,21} + new
    # exact replica 6 → relabeled to 6, size 3, canonical moves to 6
    assert by_id[6][1] == by_id[20][1] == by_id[21][1] == 6
    assert by_id[6][2] == 3 and by_id[6][3] and not by_id[20][3]

    # signature-store path: history contributes persisted banded rows,
    # never a re-hash — identical output
    store = dd.minhash_banded(
        old, hash_family="md5", bands=16
    ).localCheckpoint(eager=True)
    inc_store = rows_of(
        update_cluster_map(
            old, old_map, new, threshold=0.5, old_banded=store, **kw
        )
    )
    assert inc_store == full

    # empty new batch: the map passes through unchanged
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert rows_of(update_cluster_map(old, old_map, empty, **kw)) == \
        rows_of(old_map)

    # replica-heavy batch spread over 4 partitions: one text ×100 new
    # ids plus a replica of old cluster A — every replica of a text
    # lands in one `_h` / `component` window partition, so those
    # windows see a 100-row key across input partitions
    R = "one boilerplate page copied verbatim across a hundred crawls"
    skew_rows = [(100 + i, R) for i in range(100)] + [(300, X)]
    skew = spark.createDataFrame(
        skew_rows, "doc_id long, text string"
    ).repartition(4)
    assert skew.rdd.getNumPartitions() >= 4
    inc = rows_of(update_cluster_map(old, old_map, skew, threshold=0.5, **kw))
    full = rows_of(build(spark.createDataFrame(
        old_rows + skew_rows, "doc_id long, text string"
    )))
    assert inc == full
    by_id = {r[0]: r for r in inc}
    assert by_id[100][1] == by_id[199][1] == 100 and by_id[100][2] == 100
    assert by_id[300][1] == by_id[0][1] == 0 and by_id[0][2] == 3


def test_update_cluster_map_two_step_induction(spark):
    """The production loop is SUCCESSIVE increments: the map produced
    by merging batch 1 feeds the merge of batch 2.  The inductive
    invariant — each increment equals a full rebuild over everything
    seen so far — must survive composition, including a batch-2 doc
    that merges a cluster CREATED by batch 1, with the history's
    signature store grown by appending batch 1's banded rows (the
    store maintenance a daily pipeline would do)."""
    from dump1090_postgis_spark.datapipe import dedup as dd
    from dump1090_postgis_spark.datapipe.cluster import (
        duplicate_clusters,
        update_cluster_map,
    )

    X = "the quick brown fox jumps over the lazy dog tonight"
    Xv = "the quick brown fox jumps over the lazy cat tonight"
    E = "entirely new material discussing broadcast joins deeply"
    C = "completely different content about spark shuffle plans"
    old_rows = [(0, X), (1, X), (5, C)]
    b1_rows = [(10, E), (11, E)]          # batch 1: new cluster {10,11}
    b2_rows = [(20, E), (21, Xv), (22, C)]  # batch 2: joins b1's cluster,
    # near-dups old X-cluster, exact-replicates C
    kw = dict(hash_family="md5", bands=16, max_bucket_size=None)

    def build(docs):
        cands = dd.lsh_candidate_pairs(docs, **kw)
        pairs = dd.jaccard_pairs(docs, cands, threshold=0.5)
        return duplicate_clusters(docs, pairs)

    def rows_of(df):
        return sorted(tuple(r) for r in df.collect())

    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")  # noqa: E731
    old, b1, b2 = mk(old_rows), mk(b1_rows), mk(b2_rows)
    corpus1 = mk(old_rows + b1_rows)
    corpus2 = mk(old_rows + b1_rows + b2_rows)

    banded0 = dd.minhash_banded(
        old, hash_family="md5", bands=16
    ).localCheckpoint(eager=True)
    map0 = build(old).localCheckpoint(eager=True)

    map1 = update_cluster_map(
        old, map0, b1, threshold=0.5, old_banded=banded0, **kw
    ).localCheckpoint(eager=True)
    assert rows_of(map1) == rows_of(build(corpus1))

    # grow the signature store by appending batch 1's banded rows —
    # the maintenance a production loop performs between increments
    banded1 = banded0.unionByName(
        dd.minhash_banded(b1, hash_family="md5", bands=16)
    ).localCheckpoint(eager=True)
    map2 = update_cluster_map(
        corpus1, map1, b2, threshold=0.5, old_banded=banded1, **kw
    )
    assert rows_of(map2) == rows_of(build(corpus2))
    by_id = {r[0]: r for r in rows_of(map2)}
    # batch-2 growth of the batch-1-born cluster
    assert by_id[20][1] == by_id[10][1] == 10 and by_id[10][2] == 3
    # near-dup merge into the original X cluster
    assert by_id[21][1] == 0 and by_id[0][2] == 3
    # exact replica through the aggregate path
    assert by_id[22][1] == 5 and by_id[5][2] == 2


def test_connected_components_frees_previous_round_checkpoints(spark):
    """Iterative CC must not accumulate one pinned label frame per
    round: after it finishes, the persistent-RDD count may exceed the
    starting count by at most 2 (the symmetric edge list + the final
    label frame) even on a chain graph that needs many rounds."""
    from dump1090_postgis_spark.datapipe.cluster import _persistent_ids

    sc = spark.sparkContext
    before = len(_persistent_ids(sc))
    # a 12-node path has diameter 11 — min-label needs many rounds
    chain = _edges(spark, [(i, i + 1) for i in range(100, 112)])
    comp = dict(connected_components(chain).collect())
    assert set(comp.values()) == {100}
    after = len(_persistent_ids(sc))
    assert after - before <= 2, (
        f"{after - before} checkpoints left pinned (expected <= 2: "
        "sym + final labels)"
    )


def test_cc_checkpoint_release_is_thread_safe_by_construction(spark):
    """The per-round block release reads each label frame's OWN
    LogicalRDD id (cluster._checkpointed_rdd_id) instead of set-diffing
    global getPersistentRDDs() snapshots — so an RDD persisted by a
    CONCURRENT driver thread can never be attributed to a CC round and
    unpersisted out from under its owner (unpersisting a foreign
    localCheckpointed RDD truncates lineage unrecoverably)."""
    from dump1090_postgis_spark.datapipe.cluster import (
        _checkpointed_rdd_id,
        _persistent_ids,
    )

    sc = spark.sparkContext
    # the id accessor reads exactly the persisted block id
    ck = spark.range(50).localCheckpoint(eager=True)
    rid = _checkpointed_rdd_id(ck)
    assert rid is not None and rid in _persistent_ids(sc)
    # a non-checkpointed plan has no LogicalRDD → None (skip, not guess)
    assert _checkpointed_rdd_id(spark.range(5)) is None
    # a "foreign" checkpointed frame persisted while CC runs must
    # survive with its blocks intact and stay collectable
    foreign = spark.range(100, 120).localCheckpoint(eager=True)
    fid = _checkpointed_rdd_id(foreign)
    comp = dict(
        connected_components(
            _edges(spark, [(i, i + 1) for i in range(200, 210)])
        ).collect()
    )
    assert set(comp.values()) == {200}
    assert fid in _persistent_ids(sc), "foreign checkpoint was unpersisted"
    assert foreign.count() == 20
    ck.unpersist()
    foreign.unpersist()


@pytest.fixture(scope="module")
def contam_docs(spark):
    bench = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    leaked = "prefix words then alpha beta gamma delta epsilon zeta eta theta end"
    clean = "totally unrelated text with enough words to form several grams here"
    return spark.createDataFrame(
        [(0, bench), (1, leaked), (2, clean)], "doc_id long, text string"
    )


def test_ngram_contamination_flags_only_overlap(spark, contam_docs):
    hits = ngram_contamination(contam_docs, F.col("doc_id") == 0, k=8)
    rows = {r.doc_id: r.n_hits for r in hits.collect()}
    assert rows == {1: 1}  # one shared 8-gram (alpha..theta); doc 2 clean


def test_decontaminate_removes_hits_keeps_bench(spark, contam_docs):
    kept = sorted(
        r.doc_id
        for r in decontaminate(contam_docs, F.col("doc_id") == 0, k=8).collect()
    )
    assert kept == [0, 2]


def test_fuzzy_contamination_flags_near_dup_not_exact_gram(spark):
    """The fuzzy tier's reason to exist: a benchmark item paraphrased
    enough to break every long n-gram still flags as a near-dup, while
    unrelated docs and the benchmark rows themselves never appear."""
    from dump1090_postgis_spark.datapipe.contamination import (
        decontaminate_fuzzy,
        fuzzy_contamination,
    )

    words = [f"w{i}" for i in range(24)]
    bench = " ".join(words)
    # every 8th word substituted: no 8 consecutive words survive (the
    # exact tier sees nothing) but 15 of 22 3-shingles do (Jaccard
    # 15/29 ≈ 0.52 > 0.5) — with bands=16 (one minhash row per band) a
    # candidate needs just ONE shared minhash
    near = " ".join(
        f"NOVEL{i}" if i % 8 == 7 else w for i, w in enumerate(words)
    )
    clean = "totally unrelated text with enough words to form several grams"
    docs = spark.createDataFrame(
        [(0, bench), (1, near), (2, clean)], "doc_id long, text string"
    )
    hits = {
        r.doc_id: (r.n_bench_matches, r.max_jaccard)
        for r in fuzzy_contamination(
            docs, F.col("doc_id") == 0, threshold=0.5, bands=16
        ).collect()
    }
    assert set(hits) == {1}
    n, j = hits[1]
    assert n == 1 and 0.5 < j < 1.0
    # the exact 8-gram tier MISSES this paraphrase — the tiers are
    # complementary, not redundant
    assert ngram_contamination(
        docs, F.col("doc_id") == 0, k=8
    ).count() == 0
    kept = sorted(
        r.doc_id
        for r in decontaminate_fuzzy(
            docs, F.col("doc_id") == 0, threshold=0.5, bands=16
        ).collect()
    )
    assert kept == [0, 2]


def test_fuzzy_contamination_k_reaches_candidate_tier(spark):
    """``k`` must parameterize BOTH tiers (round-12 advice): a caller
    auditing in 1-shingle (bag-of-words) space needs candidates
    generated there too.  A word-scramble of a benchmark doc shares
    its full unigram set (Jaccard 1.0 at k=1) but ZERO 3-shingles —
    under the old always-k=3 candidate tier its signatures are
    unrelated to the benchmark's and it never becomes a candidate, so
    the k=1 verify never sees it."""
    from dump1090_postgis_spark.datapipe.contamination import (
        fuzzy_contamination,
    )

    words = [f"w{i}" for i in range(12)]
    bench = " ".join(words)
    scrambled = " ".join(reversed(words))  # same unigrams, no shared trigram
    docs = spark.createDataFrame(
        [(0, bench), (1, scrambled)], "doc_id long, text string"
    )
    hits = {
        r.doc_id: (r.n_bench_matches, r.max_jaccard)
        for r in fuzzy_contamination(
            docs, F.col("doc_id") == 0, k=1, threshold=0.9
        ).collect()
    }
    assert hits == {1: (1, 1.0)}


def test_hash_split_deterministic_and_growth_stable(spark):
    ids = spark.range(0, 1000).withColumnRenamed("id", "doc_id")
    s1 = {r.doc_id: r.split for r in hash_split(ids, "doc_id").collect()}
    # recompute → identical; adding rows never moves old assignments
    grown = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    s2 = {r.doc_id: r.split for r in hash_split(grown, "doc_id").collect()}
    assert all(s2[k] == v for k, v in s1.items())
    counts = {v: sum(1 for x in s1.values() if x == v) for v in ("train", "val", "test")}
    assert counts["train"] > 800 and counts["val"] > 20 and counts["test"] > 20
    # bucket is the documented md5-prefix value
    row = ids.select(hash_bucket(F.col("doc_id")).alias("b")).first()
    import hashlib

    assert row.b == int(hashlib.md5(b"0").hexdigest()[:8], 16) % 100


def test_top_n_per_key_salted_matches_plain(spark):
    # skewed: 90 rows in one group, 10 in another
    df = spark.createDataFrame(
        [(i, "en" if i < 90 else "de", float(i % 17)) for i in range(100)],
        "doc_id long, lang string, quality double",
    )
    order = [F.col("quality").desc(), F.col("doc_id")]
    plain = top_n_per_key(df, ["lang"], order, 5)
    salted = top_n_per_key(df, ["lang"], order, 5, n_salts=4)
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))
    assert salted.filter("lang = 'de'").count() == 5


def test_repetition_features_flags_boilerplate(spark):
    from dump1090_postgis_spark.datapipe.text import repetition_features

    spam = "buy now " * 10  # 20 words, "buy now"/"now buy" dominate
    normal = "one two three four five six seven eight nine ten"
    df = spark.createDataFrame(
        [(1, spam.strip()), (2, normal)], "doc_id long, text string"
    )
    out = {r.doc_id: (r.top2_frac, r.top3_frac) for r in repetition_features(df).collect()}
    # spam: "buy now" occurs 10x in 20 words -> 10*2/20 = 1.0
    assert out[1][0] == 1.0 and out[1][1] > 0.8
    # normal: every 2-gram unique -> 2/10
    assert out[2] == (0.2, 0.3)


def test_quantized_topk_recall(spark, sf_dir):
    from dump1090_postgis_spark.datapipe.similarity import (
        brute_force_topk,
        quantize_embeddings,
    )
    from dump1090_postgis_spark.schemas import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    exact = brute_force_topk(emb, emb.filter(F.col("vec_id") < 5), k=5)
    qz = quantize_embeddings(emb).select("vec_id", F.col("q_vec").alias("embedding"))
    quant = brute_force_topk(qz, qz.filter(F.col("vec_id") < 5), k=5)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    q = {(r.query_id, r.neighbor_id) for r in quant.collect()}
    # int8 quantization preserves nearly all of the top-5 sets
    assert len(e & q) / len(e) >= 0.8
    # quantized values stay in int8 range
    row = qz.first()
    assert all(-127 <= x <= 127 for x in row.embedding)


def test_rank_quantile_threshold_known_distribution(spark):
    from dump1090_postgis_spark.datapipe.sampling import (
        quantile_filter,
        rank_quantile_threshold,
    )

    # group a: values 1..10 -> median (ceil(0.5*10)=5th) = 5
    # group b: values [1,1,1,9] -> ceil(0.5*4)=2nd -> 1
    rows = [("a", float(v)) for v in range(1, 11)] + [
        ("b", 1.0), ("b", 1.0), ("b", 1.0), ("b", 9.0)
    ]
    df = spark.createDataFrame(rows, "k string, v double")
    thr = {
        r.k: r.threshold
        for r in rank_quantile_threshold(df, "v", 0.5, ["k"]).collect()
    }
    assert thr == {"a": 5.0, "b": 1.0}
    kept = quantile_filter(df, "v", 0.5, ["k"]).collect()
    assert sorted(r.v for r in kept if r.k == "a") == [5.0, 6.0, 7.0, 8.0, 9.0, 10.0]
    assert len([r for r in kept if r.k == "b"]) == 4  # all >= 1.0


def test_label_outliers_flags_planted_outlier(spark):
    """Two tight label clusters + one flipped vector: the flipped one
    has negative cosine to its label centroid and is flagged."""
    from dump1090_postgis_spark.datapipe.similarity import label_outliers

    rows = []
    for i in range(5):
        rows.append((i, [1.0, 0.0, 0.1 * i], "a"))
        rows.append((10 + i, [0.0, 1.0, 0.1 * i], "b"))
    rows.append((99, [-1.0, 0.0, 0.0], "a"))  # anti-aligned with label a
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label string")
    out = {r.vec_id: r for r in label_outliers(df, threshold=0.3).collect()}
    assert len(out) == 11
    assert out[99].is_outlier
    assert out[99].cosine_to_centroid < 0
    for i in range(5):
        assert not out[i].is_outlier
        assert not out[10 + i].is_outlier


def test_label_outliers_flags_zero_norm_vector(spark):
    """An all-zero (corrupted) vector has NULL cosine; the screen must
    flag it as an outlier, not let three-valued NULL pass it through."""
    from dump1090_postgis_spark.datapipe.similarity import label_outliers

    rows = [(i, [1.0, 0.1 * i], "a") for i in range(4)] + [(9, [0.0, 0.0], "a")]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label string")
    out = {r.vec_id: r for r in label_outliers(df, threshold=0.3).collect()}
    assert out[9].cosine_to_centroid is None
    assert out[9].is_outlier is True


def test_percentile_normalize_matches_cume_dist(spark):
    """Histogram-route percentile equals cume_dist exactly: fraction
    of the group with value <= this row's value; ties share a pct."""
    from dump1090_postgis_spark.datapipe.sampling import percentile_normalize

    rows = [
        ("A", 1, 0.1), ("A", 2, 0.2), ("A", 3, 0.2), ("A", 4, 0.9),
        ("B", 5, 0.5),
    ]
    df = spark.createDataFrame(rows, "src string, id long, q double")
    got = {r.id: r.pct for r in
           percentile_normalize(df, "q", ["src"]).collect()}
    assert got[1] == 0.25
    assert got[2] == got[3] == 0.75   # ties: both count each other
    assert got[4] == 1.0
    assert got[5] == 1.0              # singleton group


def test_sample_exact_n_deterministic_and_disjoint_seeds(spark):
    from dump1090_postgis_spark.datapipe.sampling import sample_exact_n

    df = spark.createDataFrame([(i,) for i in range(200)], "doc_id long")
    a1 = {r.doc_id for r in sample_exact_n(df, 50).collect()}
    a2 = {r.doc_id for r in sample_exact_n(df, 50).collect()}
    assert a1 == a2 and len(a1) == 50        # exact n, reproducible
    b = {r.doc_id for r in sample_exact_n(df, 50, seed="other").collect()}
    assert b != a1                            # re-seed draws a different set
    # nested property: a larger draw contains the smaller one
    big = {r.doc_id for r in sample_exact_n(df, 100).collect()}
    assert a1 <= big


def test_stratified_exact_split_quota_per_stratum(spark):
    """Every stratum must hit ceil(frac*n) exactly — including a
    1-row stratum (which hash_split could drop entirely)."""
    import math

    from dump1090_postgis_spark.datapipe.sampling import stratified_exact_split

    rows = [(i, "a") for i in range(20)] + [(100 + i, "b") for i in range(7)]
    rows += [(999, "c")]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = stratified_exact_split(df, ["source"], frac=0.25).collect()
    by = {}
    for r in out:
        by.setdefault(r.source, []).append(r.split)
    for src, n in (("a", 20), ("b", 7), ("c", 1)):
        assert by[src].count("eval") == math.ceil(n * 0.25), src
        assert len(by[src]) == n


def test_stratified_exact_split_keeps_null_stratum(spark):
    """A NULL stratum value is a real partition: rows must survive the
    quota join (null-safe), hit their own ceil(frac*n) quota, and match
    the pure-window oracle formulation that never drops them."""
    import math

    from dump1090_postgis_spark.datapipe.sampling import stratified_exact_split

    rows = [(i, "a") for i in range(12)] + [(100 + i, None) for i in range(8)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = stratified_exact_split(df, ["source"], frac=0.25).collect()
    assert len(out) == 20  # nothing silently dropped
    null_rows = [r for r in out if r.source is None]
    assert len(null_rows) == 8
    assert sum(r.split == "eval" for r in null_rows) == math.ceil(8 * 0.25)
    a_rows = [r for r in out if r.source == "a"]
    assert sum(r.split == "eval" for r in a_rows) == math.ceil(12 * 0.25)


def test_stratified_exact_split_deterministic_and_seeded(spark):
    from dump1090_postgis_spark.datapipe.sampling import stratified_exact_split

    df = spark.createDataFrame(
        [(i, "s") for i in range(50)], "doc_id long, source string"
    )
    a = {(r.doc_id, r.split) for r in
         stratified_exact_split(df, ["source"], frac=0.2, seed="x").collect()}
    b = {(r.doc_id, r.split) for r in
         stratified_exact_split(df, ["source"], frac=0.2, seed="x").collect()}
    c = {(r.doc_id, r.split) for r in
         stratified_exact_split(df, ["source"], frac=0.2, seed="y").collect()}
    assert a == b
    assert a != c  # a different seed draws a different holdout


def test_contraction_restores_cap_dropped_megafamily(spark):
    """Cap × contraction interaction on the star-shaped duplicate
    graph: an exact-dup family LARGER than the bucket cap produces
    ZERO within-family LSH pairs (every bucket over cap is dropped —
    by design), so the uncontracted graph would leave the family as
    singletons; contract_families guarantees family connectivity by
    construction, so the contracted pipeline still resolves ONE
    cluster with the family minimum as canonical.  This is the
    megastar safety property the ×1000 skew bench measures at 1M
    members (scripts/bench_skew_star.py)."""
    from dump1090_postgis_spark.datapipe import dedup as dd
    from dump1090_postgis_spark.datapipe.cluster import (
        contract_families,
        duplicate_clusters,
    )

    mega = "identical boilerplate page served by every mirror of the site"
    other = "a genuinely distinct document about columnar shuffle plans"
    docs = spark.createDataFrame(
        [(i, mega) for i in range(30)] + [(100, other), (101, other)],
        "doc_id long, text string",
    )
    cap = 5
    banded = dd.minhash_banded(docs, hash_family="xxhash64")
    capped_pairs = dd.bucketed_jaccard_pairs(
        docs, banded, threshold=0.5, max_bucket_size=cap
    )
    got = {(r.id_a, r.id_b) for r in capped_pairs.collect()}
    assert got == {(100, 101)}  # the megafamily was cap-dropped entirely
    # the cap audit row names exactly that cost
    audit = dd.bucket_cap_stats(banded, max_bucket_size=cap).first()
    assert audit["n_buckets_dropped"] == 4 and audit["n_members_dropped"] == 120

    # contraction: rep-only pairs + fan-out restores the family
    fam = contract_families(docs)
    rep_docs = docs.join(
        fam.filter(F.col("node") == F.col("rep")).select(
            F.col("node").alias("doc_id")
        ),
        "doc_id",
        "semi",
    )
    rpairs = dd.bucketed_jaccard_pairs(
        rep_docs,
        dd.minhash_banded(rep_docs, hash_family="xxhash64"),
        threshold=0.5,
        max_bucket_size=cap,
    )
    clusters = {
        r.doc_id: (r.component, r.cluster_size, r.is_canonical)
        for r in duplicate_clusters(docs, rpairs, contract=fam).collect()
    }
    assert all(clusters[i] == (0, 30, i == 0) for i in range(30))
    assert clusters[100] == (100, 2, True) and clusters[101] == (100, 2, False)


def test_connected_components_raises_on_non_convergence(spark):
    """A chain longer than max_iter hops is still merging when the
    round budget runs out; returning the split labels would let
    duplicates survive dedup silently, so the loop must raise."""
    chain = _edges(spark, [(i, i + 1) for i in range(6)])  # diameter 6
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=2).collect()
    out = {
        (r.node, r.component)
        for r in connected_components(chain, max_iter=10).collect()
    }
    assert out == {(i, 0) for i in range(7)}
    with pytest.raises(ValueError, match="max_iter"):
        connected_components(chain, max_iter=0)
    # convergence is observable one round LATE: a run whose final
    # round produces the fixed point must RETURN it, not raise —
    # otherwise max_iter silently needs one spare round (round-10
    # advisor).  Chain 0-1-2 converges on exactly round 2 (round 2
    # still moves node 2, round 3 would report zero changes).
    short = _edges(spark, [(0, 1), (1, 2)])
    out = {
        (r.node, r.component)
        for r in connected_components(short, max_iter=2).collect()
    }
    assert out == {(0, 0), (1, 0), (2, 0)}


def test_duplicate_clusters_foreign_pair_endpoint_keeps_docs(spark):
    """A pair endpoint that is NOT in docs (pairs computed against a
    wider corpus than this batch) must never steal the canonical slot:
    component==node semantics would mark NO doc of that cluster
    canonical and filter('is_canonical') would drop the doc outright."""
    docs = spark.createDataFrame([(7,), (9,)], "doc_id long")
    pairs = _edges(spark, [(5, 7)])  # node 5 exists only in the pairs
    out = {r.doc_id: r for r in duplicate_clusters(docs, pairs).collect()}
    assert set(out) == {7, 9}
    assert out[7].is_canonical is True      # min DOC in its component
    assert out[7].cluster_size == 1         # doc members only
    assert out[9].is_canonical is True      # untouched singleton
    kept = {r.doc_id for r in duplicate_clusters(docs, pairs)
            .filter("is_canonical").collect()}
    assert kept == {7, 9}                   # no data loss


def test_quantile_and_percentile_keep_null_groups(spark):
    """A NULL group key is a real group (the histogram computes its
    threshold / percentile); the join back must be null-safe instead
    of silently removing every NULL-key row from the output."""
    from dump1090_postgis_spark.datapipe.sampling import (
        percentile_normalize,
        quantile_filter,
    )

    df = spark.createDataFrame(
        [(1, "en", 0.1), (2, "en", 0.9), (3, None, 0.2), (4, None, 0.8)],
        "doc_id long, lang string, quality double",
    )
    # q=0.75 over 2-row groups: rank ceil(1.5)=2 → the larger value is
    # each group's threshold; NULL group gated by ITS threshold, not
    # dropped wholesale
    kept = {r.doc_id for r in quantile_filter(df, "quality", 0.75, ["lang"]).collect()}
    assert kept == {2, 4}
    pct = {r.doc_id: r.pct for r in
           percentile_normalize(df, "quality", ["lang"], out="pct").collect()}
    assert set(pct) == {1, 2, 3, 4}          # NULL-lang rows retained
    assert pct[3] == 0.5 and pct[4] == 1.0   # their own group's cume_dist


def test_quota_ceil_does_not_overshoot_on_integral_products(spark):
    """frac·n an ulp above an integer (0.07 × 100 = 7.000000000000001)
    must not ceil to 8: the contract is EXACTLY ceil(frac·n) = 7."""
    from dump1090_postgis_spark.datapipe.sampling import (
        rank_quantile_threshold,
        stratified_exact_split,
    )

    df = spark.createDataFrame(
        [(i, "s") for i in range(100)], "doc_id long, src string"
    )
    split = stratified_exact_split(df, ["src"], frac=0.07)
    assert split.filter("split = 'eval'").count() == 7
    # rank pick: the 7th value (0-indexed 6) of 0..99, not the 8th
    vals = spark.createDataFrame(
        [(float(i),) for i in range(100)], "v double"
    )
    thr = rank_quantile_threshold(vals, "v", q=0.07, keys=[]).collect()[0]
    assert thr.threshold == 6.0


def test_ngram_contamination_null_predicate_is_checked_side(spark):
    """A NULL bench predicate (source = 'bench' over NULL source) must
    land the doc on the CHECKED side — the raw predicate excluded it
    from both sides and contamination leaked through decontaminate."""
    from dump1090_postgis_spark.datapipe.contamination import (
        decontaminate,
        ngram_contamination,
        ngram_contamination_bloom,
    )

    shared = "alpha beta gamma delta epsilon zeta eta theta"
    df = spark.createDataFrame(
        [(1, "bench", shared), (2, None, shared),
         (3, "web", "totally unrelated words in this row here yes")],
        "doc_id long, source string, text string",
    )
    pred = F.col("source") == "bench"
    hits = {r.doc_id for r in ngram_contamination(df, pred, k=8).collect()}
    assert hits == {2}
    bloom_hits = {
        r.doc_id for r in ngram_contamination_bloom(df, pred, k=8).collect()
    }
    assert bloom_hits == {2}
    clean = {r.doc_id for r in decontaminate(df, pred, k=8).collect()}
    assert 2 not in clean and 3 in clean


def test_quality_avg_word_len_ignores_irregular_whitespace(spark):
    """avg_word_len must average NORMALIZED word lengths — the old
    n_chars-(n_words-1) numerator counted extra whitespace as word
    characters ('  hello   world  ' → 8.0 instead of 5.0)."""
    from dump1090_postgis_spark.datapipe.text import quality_features

    df = spark.createDataFrame([("  hello   world  ",)], "text string")
    feats = quality_features(F.col("text"))
    row = df.select(feats["avg_word_len"].alias("awl")).collect()[0]
    assert row.awl == 5.0


def test_repetition_top_frac_capped_at_one(spark):
    """Overlapping occurrences each count k words ('a a a a': mc=3 for
    the 2-gram 'a a' → raw ratio 1.5); the column is a FRACTION of
    words covered, so it is capped at 1.0."""
    from dump1090_postgis_spark.datapipe.text import repetition_features

    df = spark.createDataFrame([(1, "a a a a")], "doc_id long, text string")
    row = repetition_features(df).collect()[0]
    assert row.top2_frac == 1.0 and row.top2_frac <= 1.0


def test_sidecar_rows_driver_local_matches_spark_read(spark, tmp_path):
    """artifact_io.sidecar_rows: the driver-local pyarrow path must
    return exactly what a Spark read + collect would (every store
    loader's witness/marker/centroid check runs through it), launch
    ZERO Spark jobs for a local path, and raise when the sidecar is
    absent (the compute-if-missing rebuild trigger)."""
    from dump1090_postgis_spark.datapipe.artifact_io import sidecar_rows

    loc = str(tmp_path / "side")
    (
        spark.range(1)
        .selectExpr(
            "'payload' AS witness",
            "array(1.0D, 2.5D) AS centroid",
            "true AS complete",
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(loc)
    )
    via_spark = [r.asDict() for r in spark.read.parquet(loc).collect()]

    sc = spark.sparkContext
    jobs0 = len(sc.statusTracker().getJobIdsForGroup(None) or [])
    via_local = sidecar_rows(spark, loc)
    jobs1 = len(sc.statusTracker().getJobIdsForGroup(None) or [])
    assert via_local == via_spark
    assert jobs1 == jobs0, "local sidecar read must not launch a job"
    # file: URI form resolves to the same local read
    assert sidecar_rows(spark, f"file://{loc}") == via_spark

    import pytest as _pytest

    with _pytest.raises(Exception):
        sidecar_rows(spark, str(tmp_path / "absent"))
