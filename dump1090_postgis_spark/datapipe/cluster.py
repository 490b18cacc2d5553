"""Duplicate-cluster resolution: near-dup PAIRS → connected
components → one canonical document per cluster.

Pair generators (exact hash, MinHash-LSH, SimHash, embedding LSH — see
:mod:`.dedup`) emit edges; an actionable dedup pipeline needs the
transitive closure of those edges (A~B, B~C ⇒ {A,B,C} is ONE cluster,
keep exactly one member).  This module computes min-label connected
components with plain DataFrame joins/aggregations.

Scale design:

- **Iterative min-label propagation.**  Each round joins the label
  frame to the symmetric edge list on node id and takes the min over
  each node's neighborhood (groupBy → partial aggregation, so only
  (node, min-label) pairs cross the wire).  Rounds needed = graph
  diameter.  Duplicate graphs from LSH bucket pairs are near-cliques
  (every pair in a bucket is emitted, so the diameter of a duplicate
  cluster is 1–2); propagation converges in 2–3 rounds where a
  general-graph algorithm (large-star/small-star, Kiveris et al.,
  "Connected Components in MapReduce and Beyond", SoCC'14) budgets
  O(log n).  The `max_iter` guard bounds pathological chain graphs.
- **Lineage truncation.**  Iterative plans grow per round; each label
  frame is `localCheckpoint`ed (eager) so round k+1's plan does not
  re-derive rounds 1..k.  The same action doubles as the convergence
  check (count of labels that changed) — one job per round, no extra
  pass.
- **Exchange reuse.**  Labels and the edge list are both hash-
  partitioned on node id, so every round's join reuses one exchange;
  the only new shuffle per round is the neighborhood min groupBy.
- **Skew.**  A hot node (one doc near-dup to millions) skews the
  neighborhood groupBy; AQE's skew-join split handles the join side,
  and the groupBy is a partial-agg min, so the reduce side only sees
  one row per (node) per map partition.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .artifact_io import publish, verify


def _persistent_ids(sc) -> set:
    """ids of the RDDs currently pinned in the block manager
    (diagnostic/test helper — the release path below no longer diffs
    this global state, see :func:`_checkpointed_rdd_id`)."""
    return set(sc._jsc.getPersistentRDDs().keySet().toArray())


def _checkpointed_rdd_id(df: DataFrame) -> int | None:
    """The block-manager RDD id of an eagerly ``localCheckpoint``ed
    DataFrame, read DIRECTLY off its plan (the analyzed plan of a
    checkpointed frame is a ``LogicalRDD`` wrapping the persisted RDD).

    This is what makes the per-round block release safe under
    concurrent driver threads: the previous implementation set-diffed
    ``getPersistentRDDs()`` around the checkpoint call, so any RDD
    persisted by ANOTHER thread between the snapshots was attributed
    to the round and unpersisted next iteration — and unpersisting a
    foreign localCheckpointed RDD truncates its lineage unrecoverably.
    Returns None when the plan shape is unexpected (release is then
    skipped for that frame — leak-toward-GC, never break a peer)."""
    try:
        node = df._jdf.queryExecution().analyzed()
        if node.getClass().getName().endswith("LogicalRDD"):
            return int(node.rdd().id())
    except Exception:  # noqa: BLE001 — internals shifted; fall back to GC
        pass
    return None


def _unpersist_blocks(sc, ids: set) -> None:
    """Release the block-manager storage of the given persisted RDD
    ids (non-blocking).  localCheckpoint blocks are otherwise freed
    only when the DRIVER JVM garbage-collects the RDD reference and
    ContextCleaner notices — on a long iterative job that means every
    round's checkpoint accumulates on local scratch until some later
    GC (measured: the ×300 dedup_clusters run exhausted a 60 GB
    scratch budget largely on dead round-(k−1) blocks)."""
    jmap = sc._jsc.getPersistentRDDs()
    it = jmap.entrySet().iterator()
    while it.hasNext():
        e = it.next()
        if e.getKey() in ids:
            e.getValue().unpersist(False)


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Undirected connected components over an edge list.

    Returns (node, component) for every node that appears in an edge,
    where component = the minimum node id reachable from it.  Isolated
    nodes don't appear (callers attach them with component = own id;
    :func:`duplicate_clusters` does).

    Scratch discipline: each round's label frame is an eager
    localCheckpoint (lineage truncation + convergence count in one
    job); once round k's checkpoint has materialized, round k−1's
    blocks can never be read again, so they are unpersisted
    IMMEDIATELY (:func:`_unpersist_blocks`) instead of waiting for
    driver GC — the checkpoint footprint stays at one label frame
    (plus the symmetric edge list) regardless of round count.
    """
    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    sc = edges.sparkSession.sparkContext
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
    )
    n_parts = sc.defaultParallelism
    sym = sym.repartition(n_parts, "b").localCheckpoint(eager=True)
    sym_ids = {_checkpointed_rdd_id(sym)} - {None}
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("lbl", F.col("node"))
        .localCheckpoint(eager=True)
    )
    prev_ids = {_checkpointed_rdd_id(labels)} - {None}
    changed = 0
    for _ in range(max_iter):
        nbr_min = (
            sym.join(
                labels.select(F.col("node").alias("b"), F.col("lbl").alias("nb_lbl")),
                "b",
            )
            .groupBy("a")
            .agg(F.min("nb_lbl").alias("nb_min"))
        )
        new_labels = (
            labels.join(nbr_min.withColumnRenamed("a", "node"), "node", "left")
            .select(
                "node",
                F.least(F.col("lbl"), F.coalesce("nb_min", "lbl")).alias("lbl"),
                (F.col("nb_min") < F.col("lbl")).alias("_chg"),
            )
            .localCheckpoint(eager=True)
        )
        new_ids = {_checkpointed_rdd_id(new_labels)} - {None}
        # round k is materialized (eager) — round k−1's blocks are
        # dead; free them now rather than at some future driver GC.
        # Ids are read off each frame's OWN LogicalRDD plan node, so a
        # concurrently-persisting driver thread can never be hit.
        _unpersist_blocks(sc, prev_ids)
        prev_ids = new_ids
        changed = new_labels.filter(F.col("_chg")).count()
        labels = new_labels.drop("_chg")
        if changed == 0:
            break
    pending = 0
    if changed:
        # convergence is only OBSERVABLE one round late (round k's
        # changes may themselves be the fixed point), so a loop that
        # exhausts with changed > 0 gets ONE read-only probe — the
        # next round's min-neighbor check without a label update —
        # before declaring non-convergence; otherwise max_iter would
        # effectively need one spare round, and a converged result
        # would be thrown away (round-10 advisor).
        pending = (
            sym.join(
                labels.select(
                    F.col("node").alias("b"), F.col("lbl").alias("nb_lbl")
                ),
                "b",
            )
            .groupBy("a")
            .agg(F.min("nb_lbl").alias("nb_min"))
            .join(labels.withColumnRenamed("node", "a"), "a")
            .filter(F.col("nb_min") < F.col("lbl"))
            .limit(1)
            .count()
        )
    # the returned labels frame keeps ITS checkpoint blocks (the
    # caller reads them); the symmetric edge list — 2× the pair list,
    # the largest scratch frame here — is dead the moment the loop
    # exits, so free it now instead of at driver GC (the same
    # accumulation hazard _unpersist_blocks documents, but per CALL:
    # a per-day clustering pipeline would otherwise leak one edge-list
    # checkpoint per invocation).
    _unpersist_blocks(sc, sym_ids)
    if pending:
        # min-label propagation moves one hop per round: a duplicate
        # CHAIN longer than max_iter (successive revisions each
        # similar only to their neighbors) is still merging when the
        # loop exhausts.  Returning here would hand the caller
        # SILENTLY SPLIT components — duplicate_clusters would then
        # mark several docs of one true family canonical and the
        # duplicates would survive dedup unnoticed.  The labels frame
        # is not returned on this path — free its blocks too.
        _unpersist_blocks(sc, prev_ids)
        raise RuntimeError(
            f"connected_components did not converge in max_iter="
            f"{max_iter} rounds (labels still moving): the duplicate "
            "graph has a chain longer than max_iter hops — raise "
            "max_iter (cost is one join+groupBy round each)"
        )
    return labels.select("node", F.col("lbl").alias("component"))


def contract_families(
    docs: DataFrame, text: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(node, rep) supernode mapping over exact-duplicate families:
    rep = the MINIMUM id among rows with identical normalized text
    (the same md5 family as :func:`.dedup.exact_dedup`).

    This is the SemDeDup exact-collapse trick applied to the duplicate
    GRAPH: replicated corpora make the near-dup edge list quadratic in
    family size (every member shares every signature, so LSH emits all
    within-family pairs and replicates every cross-family pair), while
    the REP graph is linear in distinct content.  Running pair
    generation + connected components on representatives only, then
    fanning the component out through this mapping, yields the same
    clusters: identical texts have identical signatures, so member m
    pairs with doc x iff rep(m) does, and within-family connectivity
    is by construction (jaccard of identical shingle sets is 1).  The
    only divergence is in the capped-bucket regime, where the full
    graph may MISS within-family edges the contraction guarantees —
    i.e. contraction is never less connected than the capped LSH
    graph.  One md5 groupBy + one hash join back — linear, no
    quadratic term anywhere.
    """
    from .dedup import normalize_text

    fam = docs.select(
        F.md5(normalize_text(F.col(text))).alias("_fam"),
        F.col(id_col).alias("node"),
    )
    reps = fam.groupBy("_fam").agg(F.min("node").alias("rep"))
    return fam.join(reps, "_fam").select("node", "rep")


def duplicate_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 20,
    contract: DataFrame | None = None,
) -> DataFrame:
    """Resolve near-dup pairs into clusters over the full corpus.

    Output: (id_col, component, cluster_size, is_canonical) for EVERY
    document — singletons get component = own id, size 1, canonical
    true.  `is_canonical` keeps exactly one doc per cluster (min id),
    i.e. ``docs.join(duplicate_clusters(...), id_col)
    .filter("is_canonical")`` IS the deduplicated corpus.

    The docs side is only scanned for ids (Catalyst prunes the rest);
    the component frame is duplicate-cluster-sized — tiny next to the
    corpus — so the attach join broadcasts at real scale.

    ``contract`` (optional): a (node, rep) supernode mapping from
    :func:`contract_families`.  Edges are rewritten to rep–rep (self
    edges dropped, duplicates collapsed) BEFORE the iterative CC, and
    every node inherits its rep's component afterwards — the min-label
    semantics survive because rep = min(family): the min node
    reachable in the full graph IS the min rep reachable in the rep
    graph.  A ≥2-member family whose rep has no cross-family edge is
    still one cluster (component = rep), matching the full graph where
    its members pair with each other.  This turns the
    replication-quadratic duplicate graph (the ×300 scratch blowout)
    into one linear in distinct content.
    """
    if contract is not None:
        m_src = contract.select(
            F.col("node").alias(src), F.col("rep").alias("_ra")
        )
        m_dst = contract.select(
            F.col("node").alias(dst), F.col("rep").alias("_rb")
        )
        rep_edges = (
            pairs.select(src, dst)
            .join(m_src, src)
            .join(m_dst, dst)
            .filter(F.col("_ra") != F.col("_rb"))
            .select(F.col("_ra").alias(src), F.col("_rb").alias(dst))
            .distinct()
        )
        comp = connected_components(rep_edges, src, dst, max_iter)
        attached = (
            docs.select(F.col(id_col).alias("node"))
            .join(contract, "node", "left")
            .withColumn("_rep", F.coalesce("rep", "node"))
            .join(
                comp.select(
                    F.col("node").alias("_rep"),
                    F.col("component").alias("_comp"),
                ),
                "_rep",
                "left",
            )
            .select(
                "node", F.coalesce("_comp", "_rep").alias("component")
            )
        )
        sizes = attached.groupBy("component").agg(
            F.count(F.lit(1)).alias("cluster_size")
        )
        return (
            attached.join(sizes, "component")
            .select(
                F.col("node").alias(id_col),
                "component",
                F.col("cluster_size").cast("bigint").alias("cluster_size"),
                (F.col("component") == F.col("node")).alias("is_canonical"),
            )
        )
    comp = connected_components(pairs, src, dst, max_iter)
    # canonical = the min DOC id in the component, NOT the component
    # label itself: a pair endpoint that is not in docs (pairs
    # computed against a wider corpus than this batch) can be the
    # component min, and `component == node` would then mark NO doc
    # in that cluster canonical — filter("is_canonical") would drop
    # every one of its docs from the deduplicated corpus.  Membership
    # and cluster_size count DOC members only, matching the contract
    # path (whose rep joins drop foreign edges outright).  For pairs
    # fully inside docs — every pipeline in this package — min doc ==
    # component and the output is unchanged.  Cost: docs ids are
    # scanned twice (column-pruned), and comp / member / canon are all
    # duplicate-cluster-sized, so both attach joins broadcast.
    doc_nodes = docs.select(F.col(id_col).alias("node"))
    member = doc_nodes.join(comp, "node")
    canon = member.groupBy("component").agg(
        F.min("node").alias("_canon"),
        F.count(F.lit(1)).alias("cluster_size"),
    )
    labeled = member.join(canon, "component")
    return (
        doc_nodes
        .join(labeled, "node", "left")
        .select(
            F.col("node").alias(id_col),
            F.coalesce("component", "node").alias("component"),
            F.coalesce("cluster_size", F.lit(1)).cast("bigint").alias("cluster_size"),
            (F.col("node") == F.coalesce("_canon", "node")).alias("is_canonical"),
        )
    )


#: Driver union-find budget for update_cluster_map's affected
#: subgraph: edges ≤ this collect to the driver (a 200k-row collect of
#: two-id rows ≈ a few MB — the same order as the runway-dim and
#: centroid collects this package already makes); past it the
#: distributed iterative CC takes over.
_DRIVER_CC_MAX_EDGES = 200_000


def update_cluster_map(
    docs_old: DataFrame,
    old_map: DataFrame,
    new_docs: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 4,
    hash_family: str = "xxhash64",
    k: int = 3,
    max_bucket_size: int | None = None,
    max_iter: int = 20,
    old_banded: DataFrame | None = None,
    old_hash_components: DataFrame | None = None,
) -> DataFrame:
    """Incremental duplicate-cluster maintenance: merge a NEW batch
    into an existing cluster map WITHOUT re-running the closure over
    the whole corpus — the daily-ingest shape (dedup the day's crawl
    into a 100 TB history whose map is already resolved).

    The incremental work is bounded by the batch, not the corpus:

    1. The new batch is banded (:func:`.dedup.minhash_banded` — tiny);
       its ``(band, key)`` buckets are the only TOUCHED buckets.
    2. Candidate pairs are enumerated within touched buckets only,
       over the UNION of old and new banded rows (at scale pass the
       persisted signature store as ``old_banded`` — then the history
       contributes a signature-store semi-join, never a re-hash; the
       bucket-size cap, when set, is evaluated on the union bucket,
       matching what a full rebuild would see).
    3. Pairs are exact-Jaccard verified (same tier as the batch
       pipeline), yielding edges that touch new docs and/or old docs.
    4. Only AFFECTED components re-resolve: components of old
       endpoints, their members fetched from the old map (a
       column-pruned map scan), connected to the new edges through
       star edges ``(member → component-label)`` — component labels
       are min member ids, i.e. real node ids, so min-label CC over
       star+new edges equals CC over the full merged pair set.
    5. Untouched rows pass through unchanged; affected + new rows are
       re-labeled/re-sized/re-canonicalized.

    **Rebuild equivalence**: the result equals
    ``duplicate_clusters(docs_old ∪ new_docs, pairs(union))`` exactly
    — pytest-pinned and driver-hashed against the full recursive-CTE
    oracle — with one documented one-way divergence under a bucket
    cap: a bucket that crosses ``max_bucket_size`` only AFTER the new
    batch is dropped wholesale by a rebuild (losing its OLD
    connectivity too), while the incremental path keeps the already-
    resolved old connectivity and only skips the bucket's new pairs —
    never LESS connected than the old map (the same one-way caveat as
    :func:`contract_families`).  Default here is ``None`` (exact);
    pass the dedup family's cap for hot-bucket-heavy corpora.

    Ids must be unique across ``docs_old`` and ``new_docs`` (append
    contract); ``old_map`` must cover exactly ``docs_old``.
    """
    from .dedup import (
        _bucket_pairs,
        jaccard_pairs,
        minhash_banded,
        normalize_text,
    )

    # --- Exact-content tier (the replica adversary) ---------------
    # Most of a real ingest batch is RE-CRAWLS: exact copies of
    # history content or of each other.  Pushing replicas through LSH
    # is quadratic waste (every family member shares every signature —
    # the ×300 scratch-blowout shape; a ×100 replicated decade batch
    # OOM'd the LSH-only first cut of this function), and it is also
    # unnecessary for exactness: an identical text contributes no
    # connectivity beyond its family's, so a single DIRECT edge
    # replaces its entire quadratic pair neighborhood —
    # member→batch-rep for within-batch families, batch-rep→old
    # component label for content the history already resolved
    # (contract_families' argument, specialized to the increment;
    # min-label CC then restores exact rebuild labels even when a new
    # id undercuts an old component's min).
    from pyspark.sql import Window

    h = F.md5(normalize_text(F.col(text)))
    new_h = new_docs.select(F.col(id_col).alias("_nid"), h.alias("_h"))
    # _rep = min id per family as a WINDOW over the family hash: one
    # exchange on _h instead of groupBy-agg + join-back (two exchanges
    # + a broadcast build) — identical rows by construction (round-14,
    # the stratified_split window-over-own-partitioning pattern).
    # LAZY checkpoint: nb's eager pin below references new_fam through
    # rep_rows exactly once, so its first (and only) compute happens
    # inside a job that runs anyway.  Every later consumer (fam_edges,
    # agg_members, cc_new_members) reads the persisted blocks.
    new_fam = new_h.withColumn(
        "_rep", F.min("_nid").over(Window.partitionBy("_h"))
    ).localCheckpoint(eager=False)
    # At scale pass ``old_hash_components`` — a persisted
    # (_h, component) map, the exact-tier twin of the banded signature
    # store — so the history contributes a store read here, not a
    # per-increment md5 scan of 100 TB.
    old_hash_comp = (
        old_hash_components
        if old_hash_components is not None
        else (
            docs_old.select(F.col(id_col).alias("_oid"), h.alias("_h"))
            .join(
                old_map.select(F.col(id_col).alias("_oid"), "component"),
                "_oid",
            )
            .select("_h", "component")
            .distinct()
        )
    )
    # LAZY (round-14): nb's eager pin below is the FIRST consumer — its
    # broadcast(novel_ids) build materializes these blocks inside a job
    # that runs anyway (and new_fam's nested lazy checkpoint with them),
    # so the separate driver barrier the eager form paid bought nothing.
    # Later consumers (exact_edges, cc_fams, agg_members) read blocks.
    rep_rows = new_fam.filter(F.col("_nid") == F.col("_rep")).join(
        old_hash_comp, "_h", "left"
    ).localCheckpoint(eager=False)  # (_h, _nid=_rep, component|null)
    exact_edges = rep_rows.filter(F.col("component").isNotNull()).select(
        F.col("_rep").alias("id_a"), F.col("component").alias("id_b")
    ).filter(F.col("id_a") != F.col("id_b"))

    # --- LSH tier: NOVEL content reps only -------------------------
    # One doc per batch-distinct hash unseen in history: the side that
    # actually needs near-dup candidate generation.  Bounded by novel
    # content, not batch size — a replica-heavy crawl day costs a hash
    # join, not an LSH pass.
    novel_ids = rep_rows.filter(F.col("component").isNull()).select(
        F.col("_rep").alias(id_col)
    )
    novel_docs = new_docs.join(F.broadcast(novel_ids), id_col)
    # Eager-pin the banded rows: referenced three times (touched list,
    # its broadcast build, the union side) — without the pin each
    # reference re-runs the hash-heavy signature stage.  (Round-14
    # measured the lazy form — folding nb/cands/lsh_edges into the
    # limit-collect job — at ×1.14 warm ABBA: the racing stage
    # references duplicate compute behind block-manager locks, losing
    # more than the saved barriers.  Eager pins stand; only rep_rows
    # and exact_only, each single-referenced by an existing job, went
    # lazy.)
    nb = minhash_banded(
        novel_docs, text, id_col, num_hashes, bands, hash_family, k=k
    ).localCheckpoint(eager=True)
    ob = (
        old_banded
        if old_banded is not None
        else minhash_banded(
            docs_old, text, id_col, num_hashes, bands, hash_family, k=k
        )
    )
    touched = nb.select("band", "key").distinct()
    union_touched = (
        ob.unionByName(nb).join(F.broadcast(touched), ["band", "key"])
    )
    # Materialize the bounded candidate frame so the Jaccard verify can
    # semi-join the union corpus down to candidate endpoints without
    # re-running the generator (jaccard_pairs' restrict contract).
    cands = _bucket_pairs(union_touched, max_bucket_size).localCheckpoint(
        eager=True
    )
    union_docs = docs_old.select(id_col, text).unionByName(
        new_docs.select(id_col, text)
    )
    # Eager-pin the VERIFIED edges: this is the expensive tier (shingle
    # Jaccard over candidate endpoints semi-joined out of the union
    # corpus) and it is consumed three times downstream — twice inside
    # cc_comps (the id_a/id_b endpoint union) and once in the merged
    # edge list.  Unpinned, the whole verify pipeline re-executed per
    # reference (round-13 opt measurement: 20 + 17 jobs on the two
    # checkpoints that pulled it; pinned, those drop to the endpoint /
    # union work alone).  Batch-bounded by construction: pairs touch
    # the batch's buckets only.
    lsh_edges = jaccard_pairs(
        union_docs, cands, text, id_col, k=k, threshold=threshold,
        restrict_to_candidates=True,
    ).select("id_a", "id_b").localCheckpoint(eager=True)

    # --- Route components: CC re-resolve vs aggregate update -------
    # Only components reachable from an LSH edge can gain NEW
    # connectivity; a component that merely receives exact replicas
    # cannot (a replica shares its twin's buckets and shingles
    # exactly, so its candidate/verified pair set is its twin's — if
    # those pairs could merge the component with another, the old map
    # would already reflect it).  Exact-only components therefore
    # skip CC entirely: their update is an AGGREGATE — size += n
    # attached, label = min(old label, min attached id), canonical
    # recomputed — a broadcast join against the map, no star-edge
    # materialization.  This is the difference between re-resolving
    # most of a map because a re-crawl day touched most contents
    # (measured ×100: 31 s warm) and a bounded delta pass.
    # No distinct: lsh_ends feeds a LEFT SEMI join only, which tests
    # existence — duplicate endpoint ids cannot change its result, and
    # the dropped distinct is one exchange fewer per increment (r14).
    lsh_ends = (
        lsh_edges.select(F.col("id_a").alias(id_col))
        .union(lsh_edges.select(F.col("id_b").alias(id_col)))
    )
    # LAZY: the bounded limit-collect below is the first job that
    # consumes cc_comps (all_edges → star → old_affected broadcasts
    # it), so the one map-store semi-join scan happens inside that job
    # — a job that runs regardless — and the later consumers (cc_fams,
    # old_affected, untouched, exact_only) read the persisted blocks.
    cc_comps = (
        old_map.join(lsh_ends, id_col, "semi")
        .select("component")
        .distinct()
        .localCheckpoint(eager=False)
    )
    # LAZY (round-14): exact_only's eager pin existed to pin cc_comps
    # before the final action, but the limit-collect barrier already
    # does that (star references cc_comps), so the extra sequential
    # driver barrier bought nothing.  exact_only itself materializes
    # inside the final action from pinned cc_comps/rep_rows blocks —
    # its two consumers there (agg_members' broadcast, untouched's
    # anti-join side) each read component-list-sized work.
    exact_only = (
        exact_edges.select(F.col("id_b").alias("component"))
        .distinct()
        .join(cc_comps, "component", "left_anti")
        .localCheckpoint(eager=False)
    )
    # family routing: novel rep or CC-component target → CC path;
    # exact-only target → aggregate path
    cc_fams = rep_rows.filter(F.col("component").isNull()).unionByName(
        rep_rows.join(F.broadcast(cc_comps), "component").select(
            *rep_rows.columns
        )
    )
    agg_members = new_fam.join(
        rep_rows.join(F.broadcast(exact_only), "component").select(
            "_h", "component"
        ),
        "_h",
    )  # (_nid, _h, _rep, component=target)

    cc_new_members = new_fam.join(cc_fams.select("_h"), "_h")
    fam_edges_cc = cc_new_members.filter(
        F.col("_nid") != F.col("_rep")
    ).select(F.col("_nid").alias("id_a"), F.col("_rep").alias("id_b"))
    exact_edges_cc = (
        cc_fams.filter(F.col("component").isNotNull())
        .select(F.col("_rep").alias("id_a"), F.col("component").alias("id_b"))
        .filter(F.col("id_a") != F.col("id_b"))
    )
    edges = lsh_edges.unionByName(exact_edges_cc).unionByName(fam_edges_cc)

    old_affected = old_map.join(F.broadcast(cc_comps), "component")

    # Star edges re-encode the old connectivity (label = min member id
    # = a real node), so CC over star+new edges ≡ CC over the full
    # merged pair list restricted to the affected subgraph.
    star = old_affected.select(
        F.col(id_col).alias("id_a"), F.col("component").alias("id_b")
    ).filter(F.col("id_a") != F.col("id_b"))
    all_edges = star.unionByName(edges)
    # The affected subgraph is duplicate-cluster-sized by construction
    # (star edges of touched components + the batch's verified pairs),
    # so for any sane batch it fits the driver: min-label union-find
    # in Python replaces 3-4 rounds of eager-checkpoint jobs the
    # iterative CC pays regardless of data size (measured sf0.1: the
    # distributed rounds were ~2/3 of a 9 s increment over a
    # 100-edge subgraph).  Past the budget — a batch that touches
    # millions of cluster members — the distributed CC takes over;
    # both engines produce min-reachable-id labels (equivalence
    # pinned in pytest).  ONE bounded action decides the engine AND
    # fetches the driver path's rows: a LIMIT budget+1 collect (the
    # LocalLimit stops partitions early) replaces the former eager
    # checkpoint + count() + collect() triple — two fewer sequential
    # driver barriers per increment, and the heavy inputs (lsh_edges)
    # are already pinned above, so the rare past-budget recompute of
    # the star union is endpoint-join work only.
    # executeTake's default ramp (1 partition, then ×4 per round) cost
    # 6 sequential jobs here — every input below the limit is already
    # checkpointed blocks, so scanning all partitions in ONE job is
    # strictly cheaper than 4-6 scheduling round-trips (the pre-LIMIT
    # count() did exactly that scan).  Scoped set/restore: the conf
    # only changes how many partitions the FIRST take round scans,
    # never the rows returned.
    _lim_key = "spark.sql.limit.initialNumPartitions"
    _sess = docs_old.sparkSession
    try:
        _lim_old = _sess.conf.get(_lim_key)
    except Exception:
        _lim_old = None
    _sess.conf.set(_lim_key, str(1 << 20))
    try:
        rows = all_edges.limit(_DRIVER_CC_MAX_EDGES + 1).collect()
    finally:
        if _lim_old is None:
            _sess.conf.unset(_lim_key)
        else:
            _sess.conf.set(_lim_key, _lim_old)
    n_edges = len(rows)
    if n_edges == 0:
        comp = None
    elif n_edges <= _DRIVER_CC_MAX_EDGES:
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for row in rows:
            a, b = row["id_a"], row["id_b"]
            for v in (a, b):
                if v not in parent:
                    parent[v] = v
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[rb] = ra
        label: dict = {}
        for v in parent:
            r = find(v)
            if r not in label or v < label[r]:
                label[r] = v
        comp = docs_old.sparkSession.createDataFrame(
            [(v, label[find(v)]) for v in parent],
            old_map.select(
                F.col(id_col).alias("node"),
                F.col("component"),
            ).schema,
        )
    else:
        comp = connected_components(all_edges, "id_a", "id_b", max_iter)

    nodes = (
        old_affected.select(F.col(id_col).alias("node"))
        .unionByName(cc_new_members.select(F.col("_nid").alias("node")))
    )
    if comp is None:  # no edges at all: everything affected is isolated
        member = nodes.select(
            "node", F.col("node").alias("component")
        )
    else:
        # no explicit broadcast hint: the driver-built map is
        # LocalRelation-small (AQE broadcasts it), while the
        # past-budget distributed map may not be
        member = nodes.join(comp, "node", "left").select(
            "node", F.coalesce("component", "node").alias("component")
        )
    # Canonical + size as WINDOWS over the member frame's component:
    # one exchange instead of groupBy-agg + join-back (r14; identical
    # values — min/count per component attached to every member row).
    _wc = Window.partitionBy("component")
    recomputed = member.select(
        F.col("node").alias(id_col),
        "component",
        F.count(F.lit(1)).over(_wc).cast("bigint").alias("cluster_size"),
        (F.col("node") == F.min("node").over(_wc)).alias("is_canonical"),
    )

    # --- Aggregate path: exact-only components ----------------------
    # One delta row per component (min attached id, attach count); the
    # rewrite of old members is a broadcast join against the map —
    # cluster_size grows by the count, the label (and canonical) drops
    # to a new id only when it undercuts the old min.
    delta = agg_members.groupBy("component").agg(
        F.min("_nid").alias("_min_new"),
        F.count(F.lit(1)).alias("_n_new"),
    )
    new_label = F.least(F.col("component"), F.col("_min_new"))
    new_size = (F.col("cluster_size") + F.col("_n_new")).cast("bigint")
    agg_old_rows = (
        old_map.join(F.broadcast(delta), "component")
        .select(
            F.col(id_col),
            new_label.alias("_c"),
            new_size.alias("_s"),
        )
        .select(
            id_col,
            F.col("_c").alias("component"),
            F.col("_s").alias("cluster_size"),
            (F.col(id_col) == F.col("_c")).alias("is_canonical"),
        )
    )
    agg_new_rows = (
        agg_members.join(
            F.broadcast(
                delta.join(
                    old_map.select("component", "cluster_size").distinct(),
                    "component",
                )
            ),
            "component",
        )
        .select(
            F.col("_nid").alias(id_col),
            new_label.alias("_c"),
            new_size.alias("_s"),
        )
        .select(
            id_col,
            F.col("_c").alias("component"),
            F.col("_s").alias("cluster_size"),
            (F.col(id_col) == F.col("_c")).alias("is_canonical"),
        )
    )

    untouched = old_map.join(
        F.broadcast(cc_comps.unionByName(exact_only)), "component",
        "left_anti",
    )
    return (
        untouched.select(id_col, "component", "cluster_size", "is_canonical")
        .unionByName(recomputed)
        .unionByName(agg_old_rows)
        .unionByName(agg_new_rows)
    )


# ---------------------------------------------------------------------------
# Persisted cluster-map artifact (round-12 verdict #1)
#
# The duplicate-cluster closure (signatures → candidate pairs → exact
# Jaccard → iterative CC) is the expensive part of every consumer that
# needs cluster membership: at ×10 it is 7.5 s of dedup_keep_best's
# 9.2 s, and at corpus scale it is hours of iterative work re-derived
# per resolution call.  This seam applies the repo's established
# build-once/query-many pattern (the LSH signature store in
# lsh_artifact / q_dedup_minhash_lsh_fast, the sidecar-verified IVF
# cell store in similarity.py) to the closure's OUTPUT: persist the
# (doc_id, component, cluster_size, is_canonical) map keyed by a
# corpus CONTENT witness — the same (id, text) inputs the closure
# consumes — plus the closure parameters, in the store's
# artifact_io witness; reuse when both match, rebuild otherwise.
# ---------------------------------------------------------------------------

#: Bumped when the artifact layout/semantics change; part of the
#: witness payload so old artifacts self-invalidate.
_CLUSTER_MAP_VERSION = 1


def corpus_fingerprint(
    docs: DataFrame, text: str = "text", id_col: str = "doc_id"
) -> dict:
    """Order-independent content witness over exactly the inputs the
    cluster closure consumes: row count + bit-XOR of per-row
    ``xxhash64(id, text)``.  XOR (not sum) keeps the fold overflow-free
    under ANSI mode and commutative under any partitioning; ids are
    unique, so the cancel-on-identical-rows weakness of XOR cannot
    trigger.  Cost: ONE column-pruned scan with a map-side partial
    aggregate — the cheap pass that buys skipping the expensive one
    (signatures + pairs + iterative CC)."""
    row = docs.select(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64(F.col(id_col), F.col(text))).alias("x"),
    ).first()
    return {
        "n_rows": int(row["n"]),
        "content_xor": int(row["x"]) if row["x"] is not None else 0,
    }


def _witness(fingerprint: dict, params: dict) -> dict:
    return {
        "version": _CLUSTER_MAP_VERSION,
        "fingerprint": fingerprint,
        "params": params,
    }


def write_cluster_map(
    clusters: DataFrame, path: str, fingerprint: dict, params: dict
) -> None:
    """Persist a cluster map through :func:`.artifact_io.publish`, its
    witness (version, corpus fingerprint, closure params, columns)
    stamped after the data."""
    publish(
        clusters.sparkSession,
        path,
        lambda: clusters.write.mode("overwrite").parquet(path),
        {**_witness(fingerprint, params), "columns": clusters.columns},
    )


def load_cluster_map(
    spark, path: str, fingerprint: dict, params: dict
) -> DataFrame:
    """Open a persisted cluster map, verifying its witness matches this
    call's corpus fingerprint AND closure parameters exactly — a map
    built over different documents (or a different threshold/hash
    family) would silently resolve the wrong duplicates, the failure a
    cache must make loud.  Raises on any mismatch; cost is one
    driver-LOCAL one-row read — no Spark job (artifact_io)."""
    stored = verify(spark, path, _witness(fingerprint, params))
    # recorded order → deterministic schema
    return spark.read.parquet(path).select(*stored["columns"])


def cluster_map_store(
    docs: DataFrame,
    path: str,
    builder,
    params: dict | None = None,
    text: str = "text",
    id_col: str = "doc_id",
    fingerprint: dict | None = None,
) -> DataFrame:
    """Compute-if-missing cluster map: reuse the artifact at ``path``
    when its witness matches this corpus + ``params``, else run
    ``builder(docs)`` (the full closure) and persist its output.

    Generic by construction: nothing here is cluster-specific, so any
    frame deterministically derived from ``docs`` can ride the same
    witness-keyed seam — e.g. the incremental entry persists the
    history's banded MinHash signatures (the production signature
    store) through it alongside the map itself.
    Returns a frame READING the artifact either way, so every consumer
    (dedup_clusters itself, dedup_keep_best, analytics over cluster
    sizes) scans a materialized parquet map instead of re-deriving the
    iterative closure — the same ensure-pattern as the LSH signature
    store and the IVF cell store.

    ``params`` must hold every knob that changes the builder's OUTPUT
    (threshold, hash family, num_hashes/bands, caps) — the witness
    treats it as part of the key.

    ``fingerprint``: a precomputed :func:`corpus_fingerprint` of
    ``docs``.  Callers persisting SEVERAL derived frames of the SAME
    corpus (the incremental entry stores the map, the banded
    signatures, and the hash-component map of one history frame)
    compute the witness once and pass it in — at 100 TB each
    fingerprint is a full column-pruned corpus scan, and three stores
    over one frame must not pay it three times.  The caller owns the
    docs≡fingerprint contract (exactly the ``size_hint`` convention in
    costmodel.rows_at_least)."""
    spark = docs.sparkSession
    params = params or {}
    fp = (
        fingerprint
        if fingerprint is not None
        else corpus_fingerprint(docs, text, id_col)
    )
    try:
        return load_cluster_map(spark, path, fp, params)
    except Exception as exc:  # missing, torn, or stale → rebuild
        logging.getLogger(__name__).warning(
            "cluster map at %s not reusable (%s: %s) — rebuilding",
            path, type(exc).__name__, exc,
        )
    clusters = builder(docs)
    write_cluster_map(clusters, path, fp, params)
    return load_cluster_map(spark, path, fp, params)
