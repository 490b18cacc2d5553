"""Similarity search over an embedding column (array<float>).

Two paths:
- ``brute_force_topk`` — exact cosine top-k: queries ⨯ corpus with the
  small side broadcast; one codegen'd dot product per pair, then a
  per-query ranking window.  The baseline and the verifier.
- ``ivf_topk`` — IVF-style scale path: corpus pre-assigned to the
  nearest of C centroids (one pass), queries probe the P nearest
  centroids only — the pair count drops by ~C/P versus brute force.
  With a centroid table of a few thousand rows the probe join is a
  broadcast; the heavy side shuffles once on centroid_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row, Window
from pyspark.sql import functions as F

from ..session import job_scope
from .artifact_io import publish, sidecar_rows, verify
from .costmodel import work_exceeds
from .dedup import _double_sql, embedding_cosine


@job_scope("datapipe.similarity.brute_force_topk")
def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec: str = "embedding",
    id_col: str = "vec_id",
    corpus_rows: int | None = None,
) -> DataFrame:
    """Exact cosine top-k neighbors (self excluded) for each query row.

    Returns (query_id, rank, neighbor_id, cosine) — rank 1..k by cosine
    desc with neighbor-id tiebreak (deterministic).

    Two engines, chosen by size: below the FLOPs budget
    ``_BF_JOIN_MAX_FLOPS`` (corpus rows × queries × dim) the broadcast
    theta join with the interpreted staged-cosine (bit-exact vs the
    DuckDB oracle); past it :func:`brute_force_topk_blocked` (Arrow
    blocked BLAS scan, per-batch top-k emission — same rows, ~50× less
    per-dot cost).  Both engines are O(n·q·d), so the crossover where
    the blocked engine's fixed Arrow overhead amortizes is a FLOPs
    wall, not a row wall.  The corpus size comes from ``corpus_rows``
    (caller hint) → Catalyst plan stats → a bounded limit-probe, never
    an unbounded count (:func:`.costmodel.rows_at_least`); nq/dim come
    from one tiny agg over the query side — the driver-small side by
    contract (the blocked engine collects it whole).  Same oracle-gate
    discipline as every other vectorized engine here: all
    DuckDB-checked scales stay on the join path.
    """
    qstat = queries.agg(
        F.count(F.lit(1)).alias("_nq"),
        F.first(F.size(F.col(vec)), ignorenulls=True).alias("_dim"),
    ).first()
    units = (qstat["_nq"] or 0) * (qstat["_dim"] or 0)
    if units > 0 and work_exceeds(
        corpus, _BF_JOIN_MAX_FLOPS, units, size_hint=corpus_rows
    ):
        return brute_force_topk_blocked(corpus, queries, k, vec, id_col)
    # Stage the double-cast vector AND its norm as named columns BEFORE
    # the broadcast theta join: the higher-order transform/aggregate
    # expressions run interpreted (no whole-stage codegen), so leaving
    # them inside the cosine expression evaluates them once per PAIR —
    # |queries|× per corpus row.  Staged, each side is cast and normed
    # once per ROW; the per-pair work is exactly one zip_with dot and a
    # divide.  CollapseProject keeps the staging (the aliased arrays
    # are non-cheap and referenced more than once).  The float math is
    # identical to embedding_cosine — same values, same operation tree,
    # only factored per-side — so results stay bit-identical.
    def _staged(df, out_id):
        dv = F.transform(F.col(vec), lambda x: x.cast("double"))
        return (
            df.withColumn("_dv", dv)
            .withColumn(
                "_norm",
                F.sqrt(
                    F.aggregate(
                        F.transform(F.col("_dv"), lambda x: x * x),
                        F.lit(0.0),
                        lambda s, x: s + x,
                    )
                ),
            )
            .select(F.col(id_col).alias(out_id), "_dv", "_norm")
        )

    q = _staged(queries, "query_id").withColumnsRenamed(
        {"_dv": "_qv", "_norm": "_qn"}
    )
    c = _staged(corpus, "neighbor_id").withColumnsRenamed(
        {"_dv": "_cv", "_norm": "_cn"}
    )
    dot = F.aggregate(
        F.zip_with(F.col("_qv"), F.col("_cv"), lambda x, y: x * y),
        F.lit(0.0),
        lambda s, x: s + x,
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cosine",
            F.round(dot / (F.col("_qn") * F.col("_cn")), 4) + F.lit(0.0),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


def hard_negative_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec: str = "embedding",
    id_col: str = "vec_id",
    label: str = "label",
) -> DataFrame:
    """Contrastive hard-negative mining: for each anchor (query row),
    the top-``k`` most-similar corpus vectors carrying a DIFFERENT
    label — the negatives that sit closest to the decision boundary,
    which is what contrastive/metric training wants batched next to
    each anchor.

    Same staged-cosine broadcast theta join as
    :func:`brute_force_topk` (anchors broadcast, corpus never
    shuffles, per-pair cost = one zip_with dot), plus the
    label-inequality pair filter evaluated BEFORE the cosine.  For
    corpus-scale anchor sets compose with the IVF route instead
    (probe different-label lists) — this exact form is the recall
    baseline, O(|anchors| · |corpus|) by design.
    """

    def _staged(df, out_id, out_label):
        dv = F.transform(F.col(vec), lambda x: x.cast("double"))
        return (
            df.withColumn("_dv", dv)
            .withColumn(
                "_norm",
                F.sqrt(
                    F.aggregate(
                        F.transform(F.col("_dv"), lambda x: x * x),
                        F.lit(0.0),
                        lambda s, x: s + x,
                    )
                ),
            )
            .select(
                F.col(id_col).alias(out_id),
                F.col(label).alias(out_label),
                "_dv",
                "_norm",
            )
        )

    # zero-norm (all-zero / corrupted) embeddings are excluded up
    # front: they have no direction, and dividing by a 0 norm product
    # would put NaN cosines at the TOP of every desc ranking
    q = (
        _staged(queries, "query_id", "_ql")
        .filter(F.col("_norm") > 0)
        .withColumnsRenamed({"_dv": "_qv", "_norm": "_qn"})
    )
    c = (
        _staged(corpus, "neighbor_id", "_cl")
        .filter(F.col("_norm") > 0)
        .withColumnsRenamed({"_dv": "_cv", "_norm": "_cn"})
    )
    dot = F.aggregate(
        F.zip_with(F.col("_qv"), F.col("_cv"), lambda x, y: x * y),
        F.lit(0.0),
        lambda s, x: s + x,
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("_cl") != F.col("_ql"))
        .withColumn(
            "cosine",
            F.round(dot / (F.col("_qn") * F.col("_cn")), 4) + F.lit(0.0),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "rank",
            "neighbor_id",
            F.col("_cl").cast("int").alias("neg_label"),
            "cosine",
        )
    )


def normalize_vectors(df: DataFrame, vec: str = "embedding",
                      out: str | None = None) -> DataFrame:
    """L2-normalize an embedding column (pure expressions).  After
    normalization, cosine == dot product, halving the per-pair cost of
    every downstream similarity join."""
    out = out or vec
    v = F.transform(F.col(vec), lambda x: x.cast("double"))
    norm = F.sqrt(
        F.aggregate(F.transform(v, lambda x: x * x), F.lit(0.0), lambda s, x: s + x)
    )
    return df.withColumn(
        out,
        F.when(norm > 0, F.transform(v, lambda x: x / norm)).otherwise(v),
    )


def quantize_embeddings(
    df: DataFrame,
    vec: str = "embedding",
    q_out: str = "q_vec",
    scale_out: str = "q_scale",
) -> DataFrame:
    """Symmetric int8 scalar quantization per vector: scale =
    max|x|/127, q_i = floor(x_i/scale + 0.5) ∈ [-127, 127].

    The 100 TB lever: a 64-dim float32 embedding column is 256 B/row;
    int8 is 64 B — 4× less scan IO, shuffle, and memory for every
    downstream similarity join.  Because cosine is scale-invariant,
    cosine(q_a, q_b) approximates cosine(a, b) with NO dequantization
    (the per-vector scales cancel) — quantized top-k needs only the
    int arrays.  All arithmetic (floor(x+0.5), integer-valued sums)
    is exact in doubles, so any engine replays it bit-identically.
    """
    # Stage the cast array and max|x| as named columns so each runs
    # once per row: inlined, the `when` would evaluate the interpreted
    # array_max(transform(...)) subtree twice (condition + branch) and
    # the cast transform three times.  CollapseProject keeps the
    # staging (non-cheap aliases referenced more than once).
    staged = (
        df.withColumn("_qz_v", F.transform(F.col(vec), lambda x: x.cast("double")))
        .withColumn("_qz_mx", F.array_max(F.transform(F.col("_qz_v"), F.abs)))
        .withColumn(
            scale_out,
            F.when(F.col("_qz_mx") > 0, F.col("_qz_mx") / 127.0).otherwise(
                F.lit(1.0)
            ),
        )
    )
    return staged.withColumn(
        q_out,
        F.transform(
            F.col("_qz_v"),
            lambda x: F.floor(x / F.col(scale_out) + 0.5).cast("int"),
        ),
    ).drop("_qz_v", "_qz_mx")


def _mean_centroids(assigned: DataFrame) -> DataFrame:
    """Element-wise mean per centroid via posexplode + groupBy (scales
    to any dimensionality; shuffle keyed on (centroid, dim))."""
    exploded = assigned.select("centroid_id", F.posexplode("_v").alias("pos", "x"))
    return (
        exploded.groupBy("centroid_id", "pos")
        .agg(F.avg("x").alias("m"))
        .groupBy("centroid_id")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("_pm"))
        .select(
            "centroid_id",
            F.transform(F.col("_pm"), lambda s: s["m"]).alias("centroid"),
        )
    )


# Above this many scalar literals (C × dim), compiling centroids into
# the plan would bloat the expression tree — ship them as a broadcast
# one-row LocalRelation instead (see _centroid_set).
_LITERAL_COMPILE_LIMIT = 20_000

#: Salt fan-out for semantic_dedup's within-cluster pairwise join —
#: parallelism becomes num_centroids × _SEM_SALT instead of
#: num_centroids, and a hot cluster splits across this many tasks.
_SEM_SALT = 8


def resolve_pairwise_salt(
    live_clusters: int,
    max_members: int,
    slots: int = 256,
    target: int = 1024,
    cap: int = _SEM_SALT,
) -> int:
    """Salt for semantic_dedup's vectorized within-cluster pairwise,
    keyed on the OBSERVED cluster shape (round-9; the round-8 rule
    keyed on k — at the ×30000 envelope k=58.6k resolved salt 1 while
    2,000 LIVE clusters of ~30k members did all the work, a straggler
    hazard on a real fleet).

    Two pressures, take the larger:
    - task-count: live_clusters × salt ≥ ``slots`` groups so the
      cluster's task slots fill;
    - hot-cluster split: a b-member cluster's pairwise is O(b²) block
      work — salt ≥ max_members / ``target`` keeps each (cluster,
      salt) task's share near the by-construction-bounded
      target-cluster workload.

    Replication through the Arrow shuffle costs ×salt, so both are
    clamped to ``cap``; pure function of the two observed sizes so the
    rule is unit-testable (the semantic_dedup caller reads them off
    the already-checkpointed assignment — one count-only groupBy, no
    corpus re-derivation)."""
    if live_clusters <= 0:
        return 1  # empty pool — nothing to fan out
    by_slots = -(-slots // live_clusters)
    by_hot = -(-max(0, max_members) // max(1, target))
    return max(1, min(cap, max(by_slots, by_hot)))


def _collect_centroids(centroids: DataFrame) -> list:
    """One driver collect of the (tiny, k-row) centroid table, sorted
    by id — shared by the literal compiler and the budget dispatchers
    so multi-consumer plans (ivf_topk, ivf_pq_topk) run the centroid
    pipeline exactly once."""
    return sorted(
        centroids.select("centroid_id", "centroid").collect(),
        key=lambda r: r.centroid_id,
    )


def _centroid_structs_sql(rows, id_name: str, id_suffix: str) -> str:
    """``array(named_struct(...), ...)`` SQL text for collected
    centroid rows.  Built as TEXT and parsed with one ``F.expr`` call:
    the equivalent Column-operator construction is k·dim ``F.lit``
    calls — measured ~12k py4j round-trips / ~1.7 s of driver time per
    ivf_pq plan build at k=8, dim=64 (round-13 opt; the join5 unroll
    lesson applied to the centroid compilers).  ``id_suffix`` picks
    the id literal type ('' = INT like ``F.lit(int)``, 'L' = BIGINT
    like the old ``.cast('long')``)."""
    parts = []
    for r in rows:
        if r.centroid is None:
            arr = "CAST(NULL AS ARRAY<DOUBLE>)"
        elif len(r.centroid) == 0:
            arr = "CAST(array() AS ARRAY<DOUBLE>)"
        else:
            arr = "array(" + ",".join(_double_sql(x) for x in r.centroid) + ")"
        parts.append(
            f"named_struct('{id_name}', {int(r.centroid_id)}{id_suffix}, "
            f"'centroid', {arr})"
        )
    return "array(" + ",".join(parts) + ")"


def _centroid_arrow(rows, id_type):
    """Arrow ``(ids, centroids)`` arrays of collected centroid rows.
    A pa array, NOT a pandas frame: Spark's pandas ingestion applies
    from_pandas semantics (NaN coerced to null), which would corrupt
    NaN centroid strata; the direct Arrow path keeps binary doubles
    intact and compiles to a LocalRelation (no RDD job)."""
    import pyarrow as pa

    ids = pa.array([int(r.centroid_id) for r in rows], id_type)
    cens = pa.array(
        [
            None
            if r.centroid is None
            else [None if x is None else float(x) for x in r.centroid]
            for r in rows
        ],
        pa.list_(pa.float64()),
    )
    return ids, cens


def _centroid_set(centroids: DataFrame, _rows: list | None = None):
    """The k centroids as the ONE value :func:`_ranked_centroids`
    reads, array<struct<centroid_id, centroid>> sorted by id, built
    from one collect of the (tiny) table (or the caller's
    already-collected ``_rows``):

    - while k·dim fits :data:`_LITERAL_COMPILE_LIMIT`, a plan LITERAL
      Column (the operators/attribution.py pattern): every consumer
      plan embeds the values — no recompute per branch, no exchange at
      all on the corpus side;
    - past it, a broadcast one-row LocalRelation DataFrame whose
      ``_cen`` column holds the same array: no expression-tree bloat,
      and never the lazy centroid frame, whose broadcast would re-run
      the corpus aggregation (see :func:`_centroid_dim`).

    Same ids (INT, as the literal parses them) and the same binary
    doubles either way, so the ranking is bit-identical at every
    size."""
    rows = _rows if _rows is not None else _collect_centroids(centroids)
    dim = len(rows[0].centroid) if rows and rows[0].centroid is not None else 0
    if rows and len(rows) * dim <= _LITERAL_COMPILE_LIMIT:
        return F.expr(_centroid_structs_sql(rows, "centroid_id", ""))
    import pyarrow as pa

    int32 = all(-(2**31) <= int(r.centroid_id) < 2**31 for r in rows)
    ids, cens = _centroid_arrow(rows, pa.int32() if int32 else pa.int64())
    structs = pa.StructArray.from_arrays(
        [ids, cens], names=["centroid_id", "centroid"]
    )
    one_row = pa.ListArray.from_arrays(
        pa.array([0, len(rows)], pa.int32()), structs
    )
    return F.broadcast(
        centroids.sparkSession.createDataFrame(pa.table({"_cen": one_row}))
    )


def _centroid_dim(
    centroids: DataFrame, rows: list | None, id_alias: str = "list_id"
) -> DataFrame:
    """Broadcast-side centroid dim ``(id_alias, centroid)`` WITHOUT
    re-running the centroid pipeline per consumer.

    ``centroids`` is usually a LAZY corpus-wide aggregation
    (:func:`build_centroids`): referencing it as the build side of a
    broadcast join re-executes that aggregation — a full corpus scan +
    two-level mean hidden inside the BroadcastExchange — once per
    consumer, even though the caller already collected the k rows for
    the literal assignment compile (round-13 opt; the plan for
    ann_topk_ivf_pq carried TWO such subtrees).  Under the literal
    budget the collected rows compile to an inline literal over a
    one-row range (LocalRelation-class: no corpus scan, no job, the
    sources/dims.literal_dim lesson); past it they ship as one Arrow
    LocalRelation (no expression-tree bloat, still no corpus scan).
    ``rows=None`` (caller never collected) keeps the lazy frame.

    Values are the exact collected doubles (``F.lit`` passes binary
    doubles through py4j, no string round-trip), so joins against this
    frame are value-identical to the re-aggregated one — pinned by
    tests/test_datapipe.py::test_centroid_dim_matches_lazy_frame."""
    if not rows:
        return centroids.select(
            F.col("centroid_id").alias(id_alias), "centroid"
        )
    spark = centroids.sparkSession
    dim = len(rows[0].centroid) if rows[0].centroid is not None else 0
    if len(rows) * dim <= _LITERAL_COMPILE_LIMIT:
        # one F.expr parse of the whole literal — see
        # _centroid_structs_sql for why not k·dim Column operators
        return spark.range(1).select(
            F.expr(
                "inline(" + _centroid_structs_sql(rows, id_alias, "L") + ")"
            )
        )
    import pyarrow as pa

    ids, cens = _centroid_arrow(rows, pa.int64())
    return spark.createDataFrame(pa.table({id_alias: ids, "centroid": cens}))


def _ranked_centroids(vec_col, cen_arr) -> "F.Column":
    """array<struct<neg_sim, centroid_id>> sorted ascending — i.e.
    similarity DESC with centroid_id ASC tiebreak — computed entirely
    inside one projection (no shuffle, no window)."""
    sims = F.transform(
        cen_arr,
        lambda c: F.struct(
            (-embedding_cosine(vec_col, c["centroid"])).alias("neg_sim"),
            c["centroid_id"].alias("centroid_id"),
        ),
    )
    return F.array_sort(sims)


def _with_ranked_centroids(df: DataFrame, vec: str, cen):
    """``(df', ranked, drop)``: :func:`_ranked_centroids` of ``vec``
    over the centroid set ``cen`` (:func:`_centroid_set`).  A literal
    set is read in place; a one-row frame is crossJoined (a broadcast
    nested-loop join that attaches its ``_cen`` column to every row),
    which the caller drops again."""
    if isinstance(cen, DataFrame):
        ranked = _ranked_centroids(F.col(vec), F.col("_cen"))
        return df.crossJoin(cen), ranked, ("_cen",)
    return df, _ranked_centroids(F.col(vec), cen), ()


#: Coarse cells searched by the two-level numpy assignment
#: (:func:`_numpy_centroid_tree`) — the boundary-miss hedge: a row
#: whose true nearest fine centroid sits just across a coarse Voronoi
#: edge is still found as long as that cell ranks within the probe
#: count.
_TREE_COARSE_PROBES = 2

#: FLOPs budget for the EXACT all-k vectorized assignment: n·k·dim
#: multiply-adds in the corpus×centroid matmul.  Under auto-k, k grows
#: with n (k ≈ n/target), so exact assignment is O(n²/target) — a
#: FLOPs wall, not a row-count wall (a wide-k or high-dim corpus hits
#: it at far fewer rows than a narrow one, which is why this gate is
#: NOT keyed on rows like the oracle-exactness gates).  Measured on
#: the replicated-embeddings decades (64-dim, BLAS pinned 1
#: thread/worker): ×1000 = 2.5e11 FLOPs, exact assignment is a minor
#: term of a 39 s envelope; ×10000 = 2.5e13, exact 1,519 s vs
#: two-level tree 813 s (kept-set divergence 6 of ~1900).  1e12 puts
#: the flip between those decades: exact stays default while it is
#: cheap AND better (all k probed), the tree takes over where exact's
#: quadratic growth dominates the whole plan.
_ASSIGN_EXACT_MAX_FLOPS = 1.0e12


#: FLOPs budget for the LITERAL-projection corpus assignment in the
#: IVF family (ivf_topk / pq_encode_residual / ivf_pq_topk): n·k·dim
#: multiply-adds, each an INTERPRETED higher-order-function evaluation
#: (no whole-stage codegen for transform/aggregate).  The round-8
#: literal gate was a LITERAL-COUNT budget (k·dim ≤ 20k), blind to n:
#: at ×10000 (20M rows × nlist 16 × 64 dims = 2.0e10 FLOPs) the
#: interpreted assignment alone measured 546 s at scan-fraction 1/16
#: (BASELINE.md "IVF recall-vs-wall at ×10000" — named there the
#: obvious next lever).  Past this budget the corpus assignment
#: dispatches to :func:`_assign_nearest_vectorized` — the EXACT all-k
#: blocked BLAS matmul, ~50× cheaper per cosine, same cells on every
#: geometry (parity contract in that helper's docstring).  1e9 keeps
#: every oracle/bench scale on the bit-exact literal path (sf0.01
#: 500×8×64 = 2.6e5 … ×100 200k → 1.0e8) and flips from ×1000
#: (2M → 1.0e9 exceeded) where the interpreted path is already
#: ~minutes.
_IVF_ASSIGN_LITERAL_MAX_FLOPS = 1.0e9


def resolve_assignment_probes(
    n_rows: int, k: int, dim: int
) -> int | None:
    """Coarse probes of the vectorized assignment engine: EXACT all-k
    matmul (None) while ``n·k·dim`` fits
    :data:`_ASSIGN_EXACT_MAX_FLOPS`, the two-level coarse/fine tree
    (:data:`_TREE_COARSE_PROBES` probes) past it.  Pure function of
    the three sizes so the budget decision itself is unit-testable."""
    if n_rows * k * dim <= _ASSIGN_EXACT_MAX_FLOPS:
        return None
    return _TREE_COARSE_PROBES


def _numpy_centroid_tree(cen_mat, coarse_k: int | None = None):
    """Driver-side two-level index over the (already collected)
    centroid matrix for the VECTORIZED assignment path past
    :data:`_ASSIGN_EXACT_MAX_FLOPS`: ⌈√k⌉ coarse cells over the fine
    centroids.  Deterministic (seed assign = index % kc, one seed-mean
    pass + 3 Lloyd rounds on squared euclidean — no RNG), all over k
    points, never the corpus.

    Returns (coarse_mat kc'×d, coarse_norm, cells) where cells is a
    list of ascending fine-INDEX arrays, one per non-empty coarse
    cell (fine indices are positions in the id-sorted ``cen_mat``, so
    within-cell argmax keeps the lowest-centroid-id tie-break)."""
    import math

    import numpy as np

    k, dim = cen_mat.shape
    kc = coarse_k if coarse_k is not None else max(2, math.ceil(math.sqrt(k)))
    kc = min(kc, k)
    assign = np.arange(k) % kc
    coarse = np.zeros((kc, dim))
    for _ in range(4):  # seed-mean pass + 3 refinements
        sums = np.zeros((kc, dim))
        np.add.at(sums, assign, cen_mat)
        counts = np.bincount(assign, minlength=kc)
        fallback = cen_mat[np.arange(kc) % k]
        coarse = np.where(
            counts[:, None] > 0,
            sums / np.maximum(counts, 1)[:, None],
            fallback,
        )
        # squared euclidean via the matmul identity (k×kc, tiny)
        d2 = (
            (cen_mat * cen_mat).sum(1)[:, None]
            + (coarse * coarse).sum(1)[None, :]
            - 2.0 * (cen_mat @ coarse.T)
        )
        assign = d2.argmin(1)
    live = sorted(set(int(a) for a in assign))
    cells = [np.where(assign == j)[0] for j in live]
    coarse = coarse[live]
    cnorm = np.sqrt((coarse * coarse).sum(1))
    return coarse, cnorm, cells


def _assign_nearest_vectorized(
    df: DataFrame, centroids: DataFrame, vec: str, out: str = "list_id",
    coarse_probes: int | None = None, _cen_rows: list | None = None,
) -> DataFrame:
    """EXACT nearest-centroid assignment as an Arrow ``mapInPandas``
    blocked numpy matmul — the scale twin of the declarative ranking in
    :func:`with_nearest_centroid`.  Callers reach it only through their
    own size gates (the IVF family's n·k·dim FLOPs budget,
    :func:`semantic_dedup`'s vectorized engine, :func:`build_centroids`'
    Lloyd budget), never on an oracle-checked scale.  Every row batch
    computes all k cosines as one blocked BLAS matmul against the
    broadcast centroid matrix: exact (all k probed) and ~50×
    cheaper per cosine than the interpreted ranking (measured: 205 s
    of interpreted assignment for 2M rows × k=1954 at ×1000).

    ``coarse_probes`` (picked by :func:`resolve_assignment_probes` past
    :data:`_ASSIGN_EXACT_MAX_FLOPS`) switches to a two-level BLAS
    search — :func:`_numpy_centroid_tree` coarse matmul over ~√k cells,
    fine matmul only within each row's best ``coarse_probes`` cells:
    O(n·√k·(1+probes)) instead of O(n·k).  APPROXIMATE at coarse-cell
    boundaries (exact when probes cover the geometry); tie-break/NULL/
    NaN semantics are identical to the exact path.  This is the
    eighth-decade lever: auto-k grows k with n, so the exact matmul is
    O(n²/target) — at ~60M vectors (k≈58k) the tree cuts the
    assignment FLOPs ~40×.

    Parity with the declarative ranking (pinned by the semantic_dedup
    join-vs-vectorized equivalence pytest):
    - argmax tie-break is lowest centroid_id (numpy first-max over the
      id-sorted matrix = Spark's (−sim, id) ascending sort);
    - NULL / NULL-element / NaN-component vectors assign to the MIN
      centroid id — exactly what the declarative ranking produces
      (every neg_sim NULL or NaN → all-tie → id ascending);
    - divergence: zero-norm vectors assign to the min centroid id here
      (0/0 → NaN sims) instead of raising DIVIDE_BY_ZERO as the ANSI
      declarative cosine does — zero-norm is out of contract in both
      (the quality screens flag them upstream).

    CAVEAT for consumers of the OUTPUT ``vec`` column: the Arrow→pandas
    round-trip represents NULL array elements as NaN, so NULL-element
    vectors come back NaN-element.  Callers that must distinguish the
    two downstream (inert vs poisonous in semantic_dedup's pairwise)
    precompute their flags on the input side — see semantic_dedup.

    Scale: the centroid matrix is k×dim float64 through an
    ``sc.broadcast`` (k=10⁵ × 1k dims ≈ 800 MB is the practical
    ceiling — far past any auto-k this package derives); the corpus
    side is a pure map, zero shuffle.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    # `_cen_rows` (pre-collected, id-sorted — _collect_centroids) lets
    # multi-consumer plans run the centroid pipeline exactly once.
    rows = _cen_rows if _cen_rows is not None else _collect_centroids(centroids)
    cen_ids = np.array([int(r.centroid_id) for r in rows], dtype="int64")
    cen_mat = np.array(
        [[float(x) for x in r.centroid] for r in rows], dtype="float64"
    )
    cen_norm = np.sqrt((cen_mat * cen_mat).sum(axis=1))
    min_id = int(cen_ids[0])
    dim = cen_mat.shape[1]
    tree = (
        _numpy_centroid_tree(cen_mat) if coarse_probes is not None else None
    )
    bc = df.sparkSession.sparkContext.broadcast(
        (cen_ids, cen_mat, cen_norm, tree)
    )
    out_schema = StructType(
        df.schema.fields + [StructField(out, LongType(), True)]
    )

    def _tree_best_ids(V, vn, ids_k, C, cn, tr):
        """Per-block two-level search: running (best_sim, best_id)
        updated cell by cell, lowest-id tie-break — the loop is over
        ~√k cells, every inner op a masked BLAS matmul."""
        G, gn, cells = tr
        m = V.shape[0]
        with np.errstate(divide="ignore", invalid="ignore"):
            Sc = (V @ G.T) / (vn[:, None] * gn[None, :])
        Sc = np.nan_to_num(Sc, nan=-np.inf)
        p = min(coarse_probes, len(cells))
        top = np.argpartition(-Sc, p - 1, axis=1)[:, :p]
        probed = np.zeros((m, len(cells)), dtype=bool)
        probed[np.arange(m)[:, None], top] = True
        best = np.full(m, -np.inf)
        best_id = np.full(m, min_id, dtype="int64")
        for j, members in enumerate(cells):
            rows = np.where(probed[:, j])[0]
            if not rows.size:
                continue
            with np.errstate(divide="ignore", invalid="ignore"):
                S = (V[rows] @ C[members].T) / (
                    vn[rows, None] * cn[members][None, :]
                )
            S = np.nan_to_num(S, nan=-np.inf)
            loc = S.argmax(axis=1)  # members ascend → first-max = min id
            s = S[np.arange(rows.size), loc]
            cand = ids_k[members][loc]
            upd = (s > best[rows]) | ((s == best[rows]) & (cand < best_id[rows]))
            r = rows[upd]
            best[r] = s[upd]
            best_id[r] = cand[upd]
        return best_id

    def _assign(batches):
        ids_k, C, cn, tr = bc.value
        for pdf in batches:
            col = pdf[vec]
            n = len(pdf)
            res = np.full(n, min_id, dtype="int64")
            clean_idx = []
            clean_vecs = []
            for i, v in enumerate(col):
                if v is None:
                    continue
                a = np.asarray(v, dtype="float64")
                if a.shape != (dim,) or np.isnan(a).any():
                    continue
                clean_idx.append(i)
                clean_vecs.append(a)
            if clean_idx:
                V = np.stack(clean_vecs)
                vn = np.sqrt((V * V).sum(axis=1))
                tblk = _VEC_TBLK_TREE if tr is not None else _VEC_TBLK
                for b0 in range(0, len(clean_idx), tblk):
                    be = min(b0 + tblk, len(clean_idx))
                    if tr is not None:
                        res[clean_idx[b0:be]] = _tree_best_ids(
                            V[b0:be], vn[b0:be], ids_k, C, cn, tr
                        )
                        continue
                    S = V[b0:be] @ C.T
                    with np.errstate(divide="ignore", invalid="ignore"):
                        S /= vn[b0:be, None] * cn[None, :]
                    # all-NaN rows (zero-norm) argmax to index 0 = min id
                    S = np.nan_to_num(S, nan=-np.inf)
                    best = np.where(
                        np.isneginf(S).all(axis=1), 0, S.argmax(axis=1)
                    )
                    res[clean_idx[b0:be]] = ids_k[best]
            out_pdf = pdf.copy()
            out_pdf[out] = res
            yield out_pdf

    return df.mapInPandas(_assign, schema=out_schema)


def with_nearest_centroid(
    df: DataFrame, centroids: DataFrame, vec: str, out: str = "list_id",
    _cen=None,
) -> DataFrame:
    """Nearest-centroid assignment as a PURE PROJECTION: element 1 of
    :func:`_ranked_centroids` (similarity DESC, centroid_id ASC) over
    the centroid set of :func:`_centroid_set` — a plan literal while
    k·dim fits the 20k budget (every oracle-checked scale, so the
    DuckDB-audited plans never leave it), a broadcast one-row
    LocalRelation past it.  Exact at every size, bit-identical across
    the budget, zero shuffle on the corpus side.  ``_cen``: a centroid
    set the caller already built, so several consumers share one
    collect.

    The blocked BLAS twin (:func:`_assign_nearest_vectorized`) is not a
    fallback of this function: callers reach it only through their own
    size gates.

    (The round-1 plan crossJoined corpus×C and ran a
    row_number().over(partitionBy(id)) — a full shuffle+sort of the
    expanded corpus just to take an argmax.)"""
    cen = _cen if _cen is not None else _centroid_set(centroids)
    df, ranked, drop = _with_ranked_centroids(df, vec, cen)
    best = F.element_at(ranked, 1)
    return df.withColumn(out, best["centroid_id"]).drop(*drop)


def with_probed_centroids(
    df: DataFrame, centroids: DataFrame, probes: int, vec: str,
    out: str = "list_id", _cen=None,
) -> DataFrame:
    """Top-`probes` nearest centroids per row: the
    :func:`with_nearest_centroid` ranking, sliced to ``1..probes`` and
    exploded (×probes only on the small query side)."""
    cen = _cen if _cen is not None else _centroid_set(centroids)
    df, ranked, drop = _with_ranked_centroids(df, vec, cen)
    # explode_outer: plain explode infers a size>0 filter that
    # re-evaluates the whole centroid ranking per row (see
    # dedup.explode_computed); the slice is never empty by
    # construction (k >= probes >= 1).
    return (
        df.withColumn("_probe", F.explode_outer(F.slice(ranked, 1, probes)))
        .withColumn(out, F.col("_probe")["centroid_id"])
        .drop(*drop, "_probe")
    )


@job_scope("datapipe.similarity.build_centroids")
def build_centroids(corpus: DataFrame, num_centroids: int = 16,
                    vec: str = "embedding", id_col: str = "vec_id",
                    iterations: int = 0,
                    corpus_rows: int | None = None) -> DataFrame:
    """Deterministic IVF centroids: hash-assigned seed means, then
    `iterations` Lloyd (k-means) refinement steps — each step is one
    assignment (no shuffle) plus one mean aggregation, fully
    distributed and reproducible (no RNG).

    The per-iteration REASSIGNMENT is FLOPs-budgeted exactly like the
    IVF query path (round-9: the ×10000 recall run put the query wall
    at 122 s and TRAINING at 632 s — the Lloyd loop was the last
    literal-at-any-n assignment): the engine is chosen ONCE by size
    (n·k·dim vs :data:`_IVF_ASSIGN_LITERAL_MAX_FLOPS`, size source
    ``corpus_rows`` hint → plan stats → bounded probe) — the
    declarative ranking of :func:`with_nearest_centroid` under it (on
    every oracle-checked scale ``kmeans_refine``'s DuckDB twin replays
    it bit-exactly), the blocked BLAS matmul
    (:func:`_assign_nearest_vectorized`) past it.  On the vectorized
    branch degenerate vectors (NULL / wrong-length / NULL-element /
    NaN-component) are split out Spark-side and assigned the min
    centroid id with their ORIGINAL element values — the declarative
    ranking's exact behavior — because the
    Arrow round-trip would otherwise rewrite NULL elements to NaN (and
    back), changing which elements the mean aggregation sees.  One
    driver collect per iteration either way (the k-row centroid
    matrix, never the corpus)."""
    assigned = corpus.select(
        (F.pmod(F.col(id_col), F.lit(num_centroids))).alias("centroid_id"),
        F.transform(F.col(vec), lambda x: x.cast("double")).alias("_v"),
    )
    centroids = _mean_centroids(assigned)
    if iterations <= 0:
        return centroids
    from .costmodel import work_exceeds

    base = corpus.select(
        F.transform(F.col(vec), lambda x: x.cast("double")).alias("_v")
    )
    vectorized = None
    for _ in range(iterations):
        cen_rows = _collect_centroids(centroids)
        if vectorized is None:
            kdim = len(cen_rows) * (
                len(cen_rows[0].centroid) if cen_rows else 0
            )
            vectorized = work_exceeds(
                base, _IVF_ASSIGN_LITERAL_MAX_FLOPS, kdim,
                size_hint=corpus_rows,
            )
        if vectorized and cen_rows:
            dim = len(cen_rows[0].centroid)
            min_id = int(cen_rows[0].centroid_id)
            deg = (
                F.col("_v").isNull()
                | (F.size("_v") != F.lit(dim))
                | F.coalesce(
                    F.exists("_v", lambda x: x.isNull() | F.isnan(x)),
                    F.lit(False),
                )
            )
            reassigned = _assign_nearest_vectorized(
                base.filter(~deg), centroids, "_v", "centroid_id",
                _cen_rows=cen_rows,
            ).select("centroid_id", "_v").unionByName(
                base.filter(deg).select(
                    F.lit(min_id).cast("long").alias("centroid_id"), "_v"
                )
            )
        else:
            reassigned = with_nearest_centroid(
                base, centroids, vec="_v", out="centroid_id",
                _cen=_centroid_set(centroids, _rows=cen_rows),
            ).select("centroid_id", "_v")
        centroids = _mean_centroids(reassigned)
    return centroids


def _resolve_ivf_assignment(
    corpus: DataFrame,
    centroids: DataFrame,
    vec: str,
    corpus_rows: int | None,
    _cen_rows: list | None = None,
):
    """Shared corpus-assignment dispatch for the IVF family: returns
    ``(assigned_fn, cen, cen_rows, vectorized)`` where
    ``assigned_fn(df)`` attaches ``list_id`` to a ``_deg``-flagged
    corpus frame, ``cen`` is the centroid set (:func:`_centroid_set`)
    the query-side probing shares, and ``vectorized`` is the RESOLVED
    engine (callers key scale-only defaults like :func:`ivf_pq_topk`'s
    ``rerank='auto'`` off it, so the budget decision is made exactly
    once).

    The engine is chosen by size: the literal projection evaluates k
    INTERPRETED higher-order cosines per corpus row, a per-row cost
    the 20k-LITERAL budget alone is blind to, so it runs only while
    n·k·dim fits :data:`_IVF_ASSIGN_LITERAL_MAX_FLOPS` (size source
    ``corpus_rows`` hint → plan stats → bounded probe, never an
    unbounded count — :func:`.costmodel.work_exceeds`) and the
    centroid table fits the literal compile limit; otherwise the
    blocked BLAS matmul (:func:`_assign_nearest_vectorized`)."""
    from .costmodel import work_exceeds

    cen_rows = (
        _cen_rows if _cen_rows is not None else _collect_centroids(centroids)
    )
    cen = _centroid_set(centroids, _rows=cen_rows)
    kdim = len(cen_rows) * (len(cen_rows[0].centroid) if cen_rows else 0)
    vectorized = isinstance(cen, DataFrame) or work_exceeds(
        corpus, _IVF_ASSIGN_LITERAL_MAX_FLOPS, kdim, size_hint=corpus_rows
    )
    if vectorized:
        def assigned_fn(df):
            return _assign_nearest_vectorized(
                df, centroids, vec, "list_id", _cen_rows=cen_rows
            )
    else:
        def assigned_fn(df):
            return with_nearest_centroid(
                df, centroids, vec, "list_id", _cen=cen
            )
    return assigned_fn, cen, cen_rows, vectorized


def _exact_score_flags(vec: str):
    """The (degenerate, NaN-component) flag Columns of the exact
    scoring contract shared by :func:`ivf_topk` and the
    :func:`ivf_pq_topk` rerank leg — ONE definition, so the pinned
    row-for-row rerank ≡ ivf_topk identity can't drift through an
    edit to a stray copy.  NULL-ish (NULL vector or NULL element) →
    cosine NULL, ranked last; NaN component → cosine NaN, ranked first
    under nanSafeCompare."""
    deg = F.col(vec).isNull() | F.coalesce(
        F.exists(F.col(vec), lambda x: x.isNull()), F.lit(False)
    )
    nan_flag = F.coalesce(F.exists(F.col(vec), F.isnan), F.lit(False))
    return deg, nan_flag


def _exact_cosine_over_flags():
    """Exact cosine Column over staged ``_qv``/``_cv`` vectors and the
    ``_deg``/``_nan`` strata flags (see :func:`_exact_score_flags`).
    The ``round(..., 4) + 0.0`` tail is part of the contract: it
    normalizes -0.0 so DuckDB hash parity holds."""
    return (
        F.when(F.col("_deg"), F.lit(None).cast("double"))
        .when(F.col("_nan"), F.lit(float("nan")))
        .otherwise(
            F.round(embedding_cosine(F.col("_qv"), F.col("_cv")), 4)
            + F.lit(0.0)
        )
    )


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """Final per-query ranking shared by the ANN family: one bounded
    exchange on query_id (candidates only, never the corpus), ties
    broken by neighbor_id for determinism."""
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


@job_scope("datapipe.similarity.ivf_topk")
def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    probes: int = 4,
    vec: str = "embedding",
    id_col: str = "vec_id",
    corpus_rows: int | None = None,
    corpus_store: str | None = None,
) -> DataFrame:
    """IVF approximate top-k: corpus rows live in their nearest
    centroid's list; each query scans only its `probes` nearest lists.

    Plan shape: assignment is a projection (see with_nearest_centroid;
    the centroid pipeline is collected ONCE and compiled into both
    branches as literals — not recomputed per consumer), the probe
    join broadcasts the exploded query side, so the only exchange
    downstream of the parquet scan is the final per-query ranking over
    the CANDIDATE set (|candidates| ≈ probes/C of the corpus per query
    — not the corpus itself).

    The CORPUS assignment engine is FLOPs-budgeted (round-9, the
    round-8 verdict's #1 lever): :func:`_resolve_ivf_assignment`
    picks it by size — the literal interpreted projection while
    n·k·dim fits :data:`_IVF_ASSIGN_LITERAL_MAX_FLOPS` (every
    oracle-checked scale does, so DuckDB-audited plans stay
    bit-exact), the EXACT all-k
    blocked BLAS matmul (:func:`_assign_nearest_vectorized`) past it —
    same cells on every geometry, so corpus and query sides agree; the
    recall loss vs brute force stays exactly the probes/nlist scan
    fraction at any scale.  ``corpus_rows`` is the no-job size hint.

    Degenerate (NULL / NULL-element) corpus vectors score cosine NULL
    — ranked LAST under the desc ordering — in BOTH assignment
    engines, and NaN-COMPONENT corpus vectors score cosine NaN —
    ranked FIRST under nanSafeCompare — in both: the flags are
    computed Spark-side BEFORE the assignment because the vectorized
    mapInPandas round-trips the vector column through Arrow, which
    rewrites NULL elements to NaN on the way OUT and NaN elements to
    NULL on the way BACK (pandas→Arrow treats float NaN as missing);
    unguarded, a NULL-element vector would rank FIRST and a true-NaN
    vector would silently fall to the NULL stratum whenever the
    vectorized engine ran.

    ``corpus_store`` — path to a :func:`write_ivf_cell_store` layout:
    the corpus side reads the store's float column pruned to the
    probed cells (static ``list_id IN`` → PartitionFilters, zero
    query-time assignment FLOPs — the same build-once/query-many
    contract as :func:`ivf_pq_topk`'s store path, results pinned
    identical to the storeless plan; the centroid sidecar is verified
    first)."""
    assigned_fn, cen, cen_rows_l, _ = _resolve_ivf_assignment(
        corpus, centroids, vec, corpus_rows
    )
    deg, nan_flag = _exact_score_flags(vec)
    query_probes = with_probed_centroids(
        queries, centroids, probes, vec, "list_id", _cen=cen
    )
    if corpus_store is not None:
        store = _load_ivf_cell_store(
            corpus.sparkSession, corpus_store, cen_rows_l, vec, id_col
        )
        # strata flags come STORED (computed pre-assignment at write
        # time): recomputing them from the stored vector would flip
        # NULL-element rows written through the vectorized engine's
        # Arrow round trip (NULL↔NaN rewrite) from ranked-last to
        # ranked-first.  Clean rows' floats round-trip bit-exact.
        corpus_assigned = _probed_store_scan(
            store, query_probes, nlist=len(cen_rows_l)
        ).select(id_col, vec, "list_id", "_deg", "_nan")
    else:
        corpus_assigned = assigned_fn(
            corpus.withColumn("_deg", deg).withColumn("_nan", nan_flag)
        )

    q = query_probes.select(
        F.col(id_col).alias("query_id"), F.col(vec).alias("_qv"), "list_id"
    )
    c = corpus_assigned.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec).alias("_cv"),
        "list_id", "_deg", "_nan",
    )
    scored = (
        c.join(F.broadcast(q), "list_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", _exact_cosine_over_flags())
    )
    return _rank_topk(scored, k)


def pq_encode_residual(
    corpus: DataFrame,
    centroids: DataFrame,
    vec: str = "embedding",
    id_col: str = "vec_id",
    _assigned_fn=None,
    corpus_rows: int | None = None,
    _cen_rows: list | None = None,
    _keep_cols: tuple = (),
) -> DataFrame:
    """IVF-PQ-style residual codes: assign each vector to its nearest
    coarse centroid, then int8-quantize the RESIDUAL (v − centroid)
    with a per-vector symmetric scale (max|r|/127, the
    :func:`quantize_embeddings` rule applied to residuals).

    Output: (id_col, list_id, q_res array<int>, q_scale double) — the
    billion-vector memory story: the stored corpus is 1 int8/dim + one
    float + a cell id instead of a float32/dim vector (≈4× smaller),
    and because residuals are centered on the cell mean their dynamic
    range is a fraction of the raw vectors', so the same 8 bits carry
    more precision than whole-vector int8 (this is the standard
    residual-quantization argument; faiss's IVF-SQ/IVF-PQ family).
    Reconstruction is ``centroid + q·scale`` — deterministic doubles,
    so a SQL oracle replays it bit-for-bit.

    Plan shape: assignment is the literal projection (zero corpus
    shuffle), the centroid attach is a broadcast join on list_id, and
    the encode is a pure projection — nothing here exchanges the
    corpus.

    Degenerate (NULL / NULL-element) vectors encode as q_res = NULL
    (whole array) with q_scale 1.0, in BOTH assignment engines — the
    flag is pre-computed Spark-side because the vectorized Arrow
    assignment rewrites NULL elements to NaN, and an unguarded
    ``floor(NaN).cast(int)`` RAISES under ANSI mode (the literal path
    used to emit element-level NULL codes; whole-NULL is the
    engine-consistent contract, and reconstruction of a NULL q_res is
    NULL → cosine NULL → ranked last, same endpoint).

    NaN-COMPONENT vectors fold into the same degenerate stratum
    (round-9): the literal path's ``floor(NaN/scale)`` would RAISE
    under ANSI, and the vectorized Arrow return path rewrites NaN
    elements to NULL (pandas→Arrow treats float NaN as missing) —
    folding them keeps both engines at the identical q_res=NULL /
    q_scale=1.0 endpoint (reconstruction NULL → cosine NULL → ranked
    last) instead of an engine-dependent raise-vs-NULL split.

    ``corpus_rows``: the size hint for the FLOPs-budgeted corpus
    assignment dispatch — see :func:`_resolve_ivf_assignment` /
    :func:`ivf_topk`.  (``_assigned_fn`` with ``_cen_rows`` skips the
    dispatch for callers that already resolved it.)

    ``_keep_cols``: extra input columns passed through to the output
    unchanged — :func:`write_ivf_cell_store` keeps the raw float
    vector alongside the codes so the persisted cell store serves
    BOTH the PQ scan and the exact-rerank fetch.
    """
    if _assigned_fn is not None:
        assigned_fn, rows = _assigned_fn, _cen_rows
    else:
        assigned_fn, _, rows, _ = _resolve_ivf_assignment(
            corpus, centroids, vec, corpus_rows, _cen_rows=_cen_rows,
        )
    deg = (
        F.col(vec).isNull()
        | F.coalesce(
            F.exists(F.col(vec), lambda x: x.isNull()), F.lit(False)
        )
        | F.coalesce(F.exists(F.col(vec), F.isnan), F.lit(False))
    )
    assigned = assigned_fn(corpus.withColumn("_deg", deg))
    # literal dim from the already-collected rows — NOT the lazy
    # centroids frame, whose broadcast build would re-run the corpus
    # aggregation (see _centroid_dim)
    cen_dim = F.broadcast(_centroid_dim(centroids, rows))
    staged = (
        assigned.join(cen_dim, "list_id")
        .withColumn(
            "_pq_v", F.transform(F.col(vec), lambda x: x.cast("double"))
        )
        .withColumn(
            "_pq_r",
            F.zip_with(F.col("_pq_v"), F.col("centroid"), lambda x, c: x - c),
        )
        .withColumn(
            "_pq_mx", F.array_max(F.transform(F.col("_pq_r"), F.abs))
        )
        .withColumn(
            "q_scale",
            F.when(F.col("_pq_mx") > 0, F.col("_pq_mx") / 127.0).otherwise(
                F.lit(1.0)
            ),
        )
    )
    return staged.select(
        id_col,
        "list_id",
        F.when(F.col("_deg"), F.lit(None)).otherwise(
            F.transform(
                F.col("_pq_r"),
                lambda x: F.floor(x / F.col("q_scale") + 0.5).cast("int"),
            )
        ).alias("q_res"),
        F.when(F.col("_deg"), F.lit(1.0)).otherwise(F.col("q_scale")).alias(
            "q_scale"
        ),
        *_keep_cols,
    )


#: Underscore-prefixed sidecar dir inside the cell store: Spark/Hadoop
#: file listing skips `_`/`.`-prefixed paths, so readers of the store
#: path never see it, yet it travels with the store for the
#: consistency guard in :func:`_load_ivf_cell_store`.
_IVF_STORE_CENTROIDS = "_ivf_centroids"

#: Witness payload of a complete cell store (artifact_io): the centroid
#: sidecar lands with a multi-batch build's first batch, so only the
#: witness says every batch landed.
_IVF_STORE_WITNESS = {"artifact": "ivf_cell_store"}


#: auto_nlist defaults — the measured constraints on cell sizing.
#: Rows floor: the round-12 ×1000 inversion (nlist=5000 → 400 rows/cell
#: → store 699 s LOST to storeless 451 s; small-file I/O dominates).
#: Bytes target: one parquet row group (~128 MB) per cell file, so the
#: pruned read is chunky sequential I/O.
#: Pruning floor: the bytes target is only allowed to govern while it
#: leaves ≥ this many cells — a round-13 measurement: at ×1000 the
#: bytes-only rule gave nlist=7, and with nprobe=8 EVERY query's
#: candidate set became the whole 2M-row corpus (probes/nlist = 1);
#: the store leg was aborted past 1,500 s — worse than both round-12
#: legs.  Candidate pruning (probes/nlist of the corpus per query) is
#: compute; it dominates sub-row-group file overhead until nlist is
#: large enough for the rows floor to bound file count anyway.
_AUTO_NLIST_MIN_ROWS_PER_CELL = 10_000
_AUTO_NLIST_TARGET_CELL_BYTES = 128 << 20
_AUTO_NLIST_MIN_PRUNING_CELLS = 256  # 32× the default nprobe=8


def auto_nlist(
    corpus_rows: int,
    corpus_bytes: int | None = None,
    dim: int | None = None,
    min_rows_per_cell: int = _AUTO_NLIST_MIN_ROWS_PER_CELL,
    target_cell_bytes: int = _AUTO_NLIST_TARGET_CELL_BYTES,
    min_pruning_cells: int = _AUTO_NLIST_MIN_PRUNING_CELLS,
    files_per_cell: int = 1,
) -> int:
    """The executable form of the cell-sizing rule round 12 measured
    and WARNed about (round-12 verdict #2): the number of IVF cells a
    :func:`write_ivf_cell_store` layout should be trained with.

    The PRIMARY rule is the measured rows floor — ``corpus_rows /
    min_rows_per_cell`` cells, so no cell is finer than 10k rows (at
    ×1000, nlist=5000 gave 400-row cells and the store LOST to the
    storeless scan 699 s vs 451 s: thousands of tiny cell files invert
    the build-once win).

    When the corpus is big enough, the bytes target refines it
    downward to row-group-sized cells — ``corpus_bytes /
    (files_per_cell × target_cell_bytes)`` cells of ~128 MB, the
    binding rule at 100 TB (~800k chunky cells) — but the refinement
    is CLAMPED at ``min_pruning_cells`` (32× the default nprobe):
    nlist is also the denominator of every query's candidate fraction
    (nprobe/nlist of the corpus gets scored per query), and a
    round-13 measurement showed the bytes rule alone collapsing ×1000
    to nlist=7, where nprobe=8 un-pruned the candidate set entirely —
    every one of the 8,192 batch queries scored the full 2M-row
    corpus and the store leg was aborted past 1,500 s, worse than the
    misconfiguration the rule was meant to fix.  Candidate-pruning
    compute outranks file chunkiness until the corpus is large enough
    for both (the clamp is monotone: a bigger corpus never gets a
    smaller nlist).

    ``corpus_bytes`` unknown: estimated from ``corpus_rows × dim × 9``
    (8-byte stored float + 1-byte residual code per element — the two
    corpus-sized columns the store carries; random-ish doubles don't
    compress, so raw size is the honest estimate).  Returns ≥ 1; a
    result ≤ ~2 is itself a signal that the corpus is too small for a
    cell store to pay (the writer's rows-per-cell warning's message).
    """
    io_bound = corpus_rows // min_rows_per_cell
    if corpus_bytes is None and dim is not None:
        corpus_bytes = corpus_rows * dim * 9
    if corpus_bytes is not None:
        chunky = corpus_bytes // (files_per_cell * target_cell_bytes)
        # clamp, don't branch: max(chunky, pruning floor) keeps the
        # candidate fraction bounded; min(…, io_bound) keeps the rows
        # floor authoritative.  Monotone in corpus size by construction.
        return max(1, int(min(io_bound, max(chunky, min_pruning_cells))))
    return max(1, int(io_bound))


def write_ivf_cell_store(
    corpus: DataFrame,
    centroids: DataFrame,
    path: str,
    vec: str = "embedding",
    id_col: str = "vec_id",
    corpus_rows: int | None = None,
    num_partitions: int | None = None,
    files_per_cell: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist the IVF index as a cell-clustered parquet layout: the
    float corpus PLUS its residual-int8 codes, directory-partitioned
    by ``list_id`` (the IVF cell) — the build-once/query-many index
    store the FAISS train/add split implies, expressed as a write-time
    layout (the same lever as :mod:`..operators.storage`'s
    ``write_time_partitioned``: partition pruning is the strongest
    skip Spark has — zero I/O for unprobed cells, visible as
    ``PartitionFilters`` in the scan node).

    :func:`ivf_pq_topk(corpus_store=...)` then prunes BOTH passes to
    the probed cells: the PQ scoring scan reads (q_res, q_scale) and
    the exact-rerank fetch reads the float column, each touching only
    ``nprobe/nlist`` of the files with ZERO query-time assignment
    FLOPs (the round-10 measurement this answers: the rerank leg's
    fetch-by-id was one full float-corpus pass — 327.8 s vs exact-IVF
    136.95 s at ×10000 for identical recall).

    Layout: rows route to ``num_partitions`` write tasks hashed on
    (cell, ``xxhash64(id) % files_per_cell``) — the salt is the 100 TB
    guard: one cell holds ~n/nlist rows, and without it a single task
    would serialize a whole cell (``files_per_cell`` defaults to
    ``ceil(tasks/nlist)`` so total write parallelism ≈ the task
    count).  The centroid table is written inside the store under an
    underscore-hidden sidecar so the reader can verify the store was
    built against the SAME coarse quantizer — a store built on stale
    centroids would prune the wrong cells and silently drop true
    neighbors, the one failure mode a layout contract must make loud.
    The store is written through :func:`.artifact_io.publish`, so its
    witness lands last and every reader refuses a torn build.

    Degenerate (NULL / NULL-element / NaN-component) vectors assign to
    the min centroid id in both engines (see
    :func:`_assign_nearest_vectorized`), so every row lands in a real
    cell directory and the pruned fetch can never lose a candidate.
    The exact-scoring strata flags (``_deg``/``_nan``) are computed
    Spark-side BEFORE assignment and PERSISTED: under the vectorized
    engine the Arrow round-trip rewrites NULL elements ↔ NaN in the
    kept float column (see :func:`_assign_nearest_vectorized`'s
    caveat), so flags recomputed from the stored vector would flip a
    NULL-element row from ranked-last to ranked-first — readers score
    from the stored flags instead.
    """
    if mode != "overwrite":
        # 'append' would duplicate the sidecar's centroid rows, which
        # the bit-exact load check rejects (growing a store is
        # append_ivf_cell_store's job); 'ignore' could pair old cells
        # with new centroids; 'error' always fails once publish has
        # stamped the pending witness into the path.
        raise ValueError(
            f"write_ivf_cell_store mode must be 'overwrite', got "
            f"{mode!r}; use append_ivf_cell_store to add a batch to an "
            "existing store"
        )
    cen_rows = _collect_centroids(centroids)
    nlist = max(1, len(cen_rows))
    if corpus_rows is not None and corpus_rows >= 1_000_000:
        rows_per_cell = corpus_rows / nlist
        if rows_per_cell < 10_000:
            import warnings

            # Measured ×1000 (BASELINE.md round 12): a 2M-row store at
            # nlist=5000 (400 rows/cell) LOST to the storeless scan
            # 699 s vs 451 s even with partition pruning — thousands
            # of tiny cell files invert the win.  The store pays off
            # when cells are chunky (≳ one parquet row group) AND
            # query batches probe a small fraction of them.
            warnings.warn(
                f"write_ivf_cell_store: ~{rows_per_cell:.0f} rows/cell "
                f"(corpus_rows={corpus_rows}, nlist={nlist}) — cells "
                "this fine make the store SLOWER than a storeless scan "
                "(small-file I/O dominates); train the quantizer with "
                "auto_nlist(corpus_rows=..., corpus_bytes=...) cells "
                "(>=10k rows and ~a parquet row group each), or skip "
                "the store for this corpus",
                stacklevel=2,
            )
    n = (
        num_partitions
        or corpus.sparkSession.sparkContext.defaultParallelism
    )
    salt = files_per_cell or -(-n // nlist)  # ceil
    deg, nan_flag = _exact_score_flags(vec)
    coded = pq_encode_residual(
        corpus.withColumn("_store_deg", deg).withColumn(
            "_store_nan", nan_flag
        ),
        centroids, vec, id_col, corpus_rows=corpus_rows,
        _cen_rows=cen_rows, _keep_cols=(vec, "_store_deg", "_store_nan"),
    ).withColumnRenamed("_store_deg", "_deg").withColumnRenamed(
        "_store_nan", "_nan"
    )

    def write() -> None:
        (
            coded.repartition(
                n, F.col("list_id"),
                F.pmod(F.xxhash64(F.col(id_col)), F.lit(salt)),
            )
            .write.mode("overwrite")
            .partitionBy("list_id")
            .parquet(path)
        )
        (
            # literal frame from the rows collected above (not the lazy
            # centroids frame — one less corpus aggregation per build)
            _centroid_dim(centroids, cen_rows, id_alias="centroid_id")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(f"{path.rstrip('/')}/{_IVF_STORE_CENTROIDS}")
        )

    publish(corpus.sparkSession, path, write, _IVF_STORE_WITNESS)


def append_ivf_cell_store(
    new_vectors: DataFrame,
    path: str,
    vec: str = "embedding",
    id_col: str = "vec_id",
    corpus_rows: int | None = None,
    num_partitions: int | None = None,
    files_per_cell: int | None = None,
) -> None:
    """The FAISS ``add`` path: encode a NEW batch of vectors against an
    EXISTING cell store's own sidecar quantizer and append it — the
    incremental-index twin of :func:`.dedup.incremental_lsh_pairs`'s
    signature store.  Because the sidecar centroids are the single
    source of truth for the assignment, an appended store stays
    self-consistent by construction: every query that verifies the
    sidecar prunes cells that contain ALL batches.

    Ids must be unique across batches (caller contract, same as any
    append-only table); re-training centroids requires a full rebuild
    via :func:`write_ivf_cell_store` — appending after retrain is
    exactly the stale-store hazard the sidecar check exists to catch.
    """
    spark = new_vectors.sparkSession
    # appending onto a torn store would perpetuate the tear
    verify(spark, path, _IVF_STORE_WITNESS)
    # the nlist-row sidecar read on the driver (no Spark job on a local
    # path), compiled to a jobless literal frame; a store holds ≥ 1
    # centroid, so _centroid_dim only takes the session of new_vectors
    cen_rows = sorted(
        (
            Row(**r)
            for r in sidecar_rows(
                spark, f"{path.rstrip('/')}/{_IVF_STORE_CENTROIDS}"
            )
        ),
        key=lambda r: r.centroid_id,
    )
    cen = _centroid_dim(new_vectors, cen_rows, id_alias="centroid_id")
    nlist = max(1, len(cen_rows))
    n = (
        num_partitions
        or spark.sparkContext.defaultParallelism
    )
    salt = files_per_cell or -(-n // nlist)
    deg, nan_flag = _exact_score_flags(vec)
    coded = pq_encode_residual(
        new_vectors.withColumn("_store_deg", deg).withColumn(
            "_store_nan", nan_flag
        ),
        cen, vec, id_col, corpus_rows=corpus_rows,
        _cen_rows=cen_rows, _keep_cols=(vec, "_store_deg", "_store_nan"),
    ).withColumnRenamed("_store_deg", "_deg").withColumnRenamed(
        "_store_nan", "_nan"
    )
    # Column-set guard (round-11 advisor): a caller appending with
    # different vec/id_col names would write parquet files missing the
    # store's columns — later reads (no mergeSchema) surface those rows
    # with NULL vectors/ids, silently degenerate candidates.  The check
    # is a footer-only schema read, no corpus job.
    store_cols = set(spark.read.parquet(path).columns)
    batch_cols = set(coded.columns)
    if batch_cols != store_cols:
        raise ValueError(
            f"append_ivf_cell_store batch columns {sorted(batch_cols)} "
            f"do not match the store's {sorted(store_cols)} at {path} — "
            "pass the same vec/id_col the store was built with"
        )
    publish(
        spark,
        path,
        lambda: (
            coded.repartition(
                n, F.col("list_id"),
                F.pmod(F.xxhash64(F.col(id_col)), F.lit(salt)),
            )
            .write.mode("append")
            .partitionBy("list_id")
            .parquet(path)
        ),
        _IVF_STORE_WITNESS,
    )


#: Probed-cell cap for the static IN pushed into a cell-store scan: a
#: plan literal per cell compiles fine at thousands of cells but a
#: 100k-cell index probed by a large query batch would inline a
#: 100k-term predicate into every scan (slow to plan, no extra
#: pruning value once most directories are touched anyway).  Past the
#: cap the static filter is skipped — the list_id equi-join still
#: culls rows, and the scan degrades to the storeless I/O shape while
#: keeping the zero-assignment-FLOPs win.
_STORE_ISIN_MAX_CELLS = 4096

#: Full-probe warning floor: below this many cells the coverage ratio
#: is meaningless (a 5-query demo probes most of an 8-cell index by
#: construction); the sizing helper never emits fewer than
#: _AUTO_NLIST_MIN_PRUNING_CELLS (256) cells when the bytes rule is
#: active, so real stores are always above this line.
_STORE_FULL_PROBE_WARN_MIN_NLIST = 64


def _probed_store_scan(
    store: DataFrame, query_probes: DataFrame, nlist: int | None = None
) -> DataFrame:
    """The probed-cell pruning shared by :func:`ivf_topk` /
    :func:`ivf_pq_topk`: one query-side-only job collects the distinct
    probed cells (the probe ranking is a literal projection over the
    bounded query frame, so this never touches the corpus) and pushes
    them as a static ``list_id IN`` — the scan node carries
    ``PartitionFilters`` and unprobed cell directories cost zero I/O.
    Past :data:`_STORE_ISIN_MAX_CELLS` the literal is skipped (see the
    constant's rationale).

    ``nlist`` (when known) arms the FULL-PROBE warning: a batch whose
    distinct probed cells cover ≥ half the index gets no partition
    pruning — the store's win reduces to skipped assignment FLOPs,
    and the round-13 ×1000 measurement shows that regime LOSING to a
    storeless scan outright (8,192 queries × nprobe 8 over nlist 200:
    store 962 s; over nlist 5000: store 699 vs storeless 451 — the
    cell store is a small-batch/serving structure; mega-batch offline
    scoring wants the storeless plan).  Demo-scale indexes (nlist <
    :data:`_STORE_FULL_PROBE_WARN_MIN_NLIST`) are exempt: at a handful
    of cells the coverage ratio says nothing about batch size."""
    probed_cells = sorted(
        r["list_id"]
        for r in query_probes.select("list_id").distinct().collect()
    )
    if (
        nlist
        and nlist >= _STORE_FULL_PROBE_WARN_MIN_NLIST
        and len(probed_cells) >= max(1, nlist // 2)
    ):
        import warnings

        warnings.warn(
            f"ivf store scan: the query batch probes {len(probed_cells)} "
            f"of {nlist} cells — (almost) no partition pruning; at this "
            "batch-size-to-nlist ratio the storeless plan is usually "
            "faster (measured ×1000, BASELINE.md round 13). Split the "
            "batch, or skip corpus_store= for offline mega-batch scoring",
            stacklevel=3,
        )
    if len(probed_cells) > _STORE_ISIN_MAX_CELLS:
        return store
    return store.filter(F.col("list_id").isin(probed_cells))


def _load_ivf_cell_store(
    spark, path: str, cen_rows: list, vec: str, id_col: str
) -> DataFrame:
    """Open a :func:`write_ivf_cell_store` layout and VERIFY its
    sidecar centroids match the query-time centroid table exactly
    (ids and doubles bit-for-bit — parquet round-trips IEEE doubles
    losslessly, so float equality is the correct check, not a
    tolerance).  A mismatch raises: pruning on a foreign quantizer's
    cells silently drops true neighbors, which must never be quiet.

    Cost: one driver-LOCAL read of the nlist-row sidecar — no Spark
    job at all (artifact_io), after the store's witness."""
    verify(spark, path, _IVF_STORE_WITNESS)
    stored = sorted(
        sidecar_rows(
            spark, f"{path.rstrip('/')}/{_IVF_STORE_CENTROIDS}"
        ),
        key=lambda r: r["centroid_id"],
    )
    want = [(int(r.centroid_id), [float(x) for x in r.centroid])
            for r in cen_rows]
    got = [(int(r["centroid_id"]), [float(x) for x in r["centroid"]])
           for r in stored]
    if want != got:
        raise ValueError(
            f"IVF cell store at {path} was built against different "
            f"centroids than the query-time table ({len(got)} stored "
            f"vs {len(want)} given) — rebuild with "
            "write_ivf_cell_store using the SAME centroids"
        )
    store = spark.read.parquet(path)
    missing = {
        id_col, vec, "list_id", "q_res", "q_scale", "_deg", "_nan"
    } - set(store.columns)
    if missing:
        raise ValueError(
            f"IVF cell store at {path} is missing columns {sorted(missing)}"
        )
    return store


#: ivf_pq_topk rerank leg: PQ candidates per query that get exact
#: rescoring.  FAISS's two-stage refine convention (k_factor · k);
#: 4096 recovered recall@5 from 0.91 to ≥0.99 at nprobe=1/×10000 (20M
#: vectors, BASELINE.md) while the rerank work stays |queries|·m exact
#: dots — independent of corpus size.
_PQ_RERANK_M = 4096


@job_scope("datapipe.similarity.ivf_pq_topk")
def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    probes: int = 4,
    vec: str = "embedding",
    id_col: str = "vec_id",
    corpus_rows: int | None = None,
    rerank: bool | str = "auto",
    rerank_m: int = _PQ_RERANK_M,
    corpus_store: str | None = None,
    _cen_rows: list | None = None,
    _store: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ approximate top-k: the IVF probe structure of
    :func:`ivf_topk` scoring against residual-int8 RECONSTRUCTIONS
    (:func:`pq_encode_residual`) instead of raw float vectors.

    Same candidate sets as plain IVF at equal ``probes`` (identical
    coarse quantizer), so the recall delta vs :func:`ivf_topk` at
    matched scan fraction isolates exactly what the 8-bit residual
    codes cost (measured in BASELINE.md — on the sf0.1 corpus the
    reconstruction is faithful enough that recall matches plain IVF).
    Queries stay full-precision (the asymmetric-distance convention:
    only the CORPUS is compressed — it is the side with a billion
    rows).

    Scale: the scored join reads (list_id, q_res, q_scale) — the ~4×
    smaller coded corpus — plus a broadcast of the tiny centroid
    table for reconstruction; the only corpus-wide exchange remains
    the final per-query ranking over probed candidates.

    The corpus-side ENCODE assignment is FLOPs-budgeted exactly like
    :func:`ivf_topk` (one size decision, ``corpus_rows`` the hint,
    shared with :func:`pq_encode_residual`); query probing stays on the
    declarative ranking — the query side is the small side.

    ``rerank`` — the two-stage refine leg (FAISS IndexRefineFlat
    convention): rank candidates by the cheap PQ reconstruction, keep
    the top ``rerank_m`` per query, then EXACT-rescore that bounded
    set against the float vectors fetched by id and emit the final
    top-k from the exact scores.  The quantization's recall loss is
    confined to whatever falls outside PQ's top-m — measured at
    nprobe=1/×10000 (20M vectors): recall@5 0.91 → 1.00 with the
    default m (BASELINE.md round 10).  ``'auto'`` (default) enables
    the leg exactly when the size dispatch resolves the corpus
    assignment to the vectorized engine — i.e. past the n·k·dim FLOPs
    budget, where the corpus is big enough for quantization loss to
    matter — so every DuckDB-oracle scale keeps the pure-PQ plan and
    its committed result hashes, unchanged.

    Rerank plan shape: the candidate list (|queries|·m id pairs, a
    bounded driver-small frame by the family's query-side contract —
    :func:`ivf_topk` already broadcasts the probed queries) is
    BROADCAST against one fetch-by-id pass over the float corpus (no
    rescoring scan: the join ships only matched vectors), then one
    bounded exchange (|queries|·m rows) for the final ranking window.

    ``corpus_store`` — path to a :func:`write_ivf_cell_store` layout
    (float corpus + residual codes, directory-partitioned by cell).
    When given, BOTH corpus-side passes read the store with a STATIC
    probed-cell predicate (``list_id IN (...)`` — the probe set is a
    ≤ nlist-int collect off the bounded query side), so partition
    pruning reads only ``nprobe/nlist`` of the files and query time
    pays ZERO assignment FLOPs: the PQ scan reads the coded columns
    and the rerank fetch reads the float column of the SAME pruned
    files (build-once/query-many, the FAISS train/add split).  The
    codes are deterministic, so results are row-for-row identical to
    the storeless path (pytest-pinned); the store's hidden centroid
    sidecar is verified against ``centroids`` before any pruning — a
    stale store would prune the wrong cells and silently drop true
    neighbors, so that mismatch raises loudly instead.

    The exact leg scores with :func:`ivf_topk`'s exact expressions —
    including its degenerate strata (NULL-ish → cosine NULL ranked
    last, NaN-component → cosine NaN ranked first; pure PQ folds NaN
    into the NULL stratum, so a NaN corpus row that reaches the top-m
    moves to rank 1 under rerank, converging on exact behavior by
    design) — so ``rerank=True`` with ``rerank_m`` ≥ the candidate
    count is row-for-row IDENTICAL to :func:`ivf_topk` (pytest-pinned).
    """
    # validate BEFORE the assignment resolve: an invalid value must
    # not pay the centroid collect / bounded probe job first (and the
    # isinstance guard rejects 1/1.0, which `in ("auto", True, False)`
    # would accept via Python's 1 == True).
    if not (rerank is True or rerank is False or rerank == "auto"):
        raise ValueError(f"rerank must be auto|True|False, got {rerank!r}")
    # _cen_rows / _store: private seams for callers that already
    # collected the centroid table / already opened-and-verified the
    # cell store (the compute-if-missing query entries do both to
    # decide rebuilds).  Without them each warm call re-ran the
    # centroid aggregation and the sidecar verification a second time
    # inside this function — measured 3 + 5 driver-blocking jobs per
    # call at sf0.1 (round-13 opt).  Same convention as
    # _resolve_ivf_assignment's _cen_rows: the caller owns coherence.
    assigned_fn, cen, cen_rows, vectorized = _resolve_ivf_assignment(
        corpus, centroids, vec, corpus_rows, _cen_rows=_cen_rows,
    )
    if rerank == "auto":
        rerank = vectorized
    query_probes = with_probed_centroids(
        queries, centroids, probes, vec, "list_id", _cen=cen
    )
    store_pruned = None
    if corpus_store is not None:
        store = (
            _store
            if _store is not None
            else _load_ivf_cell_store(
                corpus.sparkSession, corpus_store, cen_rows, vec, id_col
            )
        )
        store_pruned = _probed_store_scan(
            store, query_probes, nlist=len(cen_rows)
        )
        coded = store_pruned.select(id_col, "list_id", "q_res", "q_scale")
    else:
        coded = pq_encode_residual(
            corpus, centroids, vec, id_col,
            _assigned_fn=assigned_fn, _cen_rows=cen_rows,
        )
    # literal reconstruction dim from the rows _resolve_ivf_assignment
    # already collected — broadcasting the lazy centroids frame would
    # re-run the corpus aggregation inside the exchange (_centroid_dim)
    cen_dim = F.broadcast(_centroid_dim(centroids, cen_rows))
    q = query_probes.select(
        F.col(id_col).alias("query_id"),
        F.transform(F.col(vec), lambda x: x.cast("double")).alias("_qv"),
        "list_id",
    )
    recon = F.zip_with(
        F.col("centroid"),
        F.col("q_res"),
        lambda c, qv: c + qv.cast("double") * F.col("q_scale"),
    )
    scored = (
        coded.join(cen_dim, "list_id")
        .withColumn("_rv", recon)
        .select(F.col(id_col).alias("neighbor_id"), "list_id", "_rv")
        .join(F.broadcast(q), "list_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cosine",
            F.round(embedding_cosine(F.col("_qv"), F.col("_rv")), 4) + F.lit(0.0),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    ranked = scored.withColumn("rank", F.row_number().over(w))
    if not rerank:
        return ranked.filter(F.col("rank") <= k).select(
            "query_id", "rank", "neighbor_id", "cosine"
        )

    # Two-stage refine: PQ picks top-m candidate ids per query, the
    # float vectors for exactly those ids are fetched back (broadcast
    # hash join — the corpus side streams, only matches ship), and the
    # final top-k comes from ivf_topk's EXACT scoring expressions.
    m = max(int(rerank_m), k)
    cand = ranked.filter(F.col("rank") <= m).select("query_id", "neighbor_id")
    # every candidate's cell is probed by construction (candidates are
    # born from the coded⋈probe join), so the pruned store is a
    # LOSSLESS fetch source — only its float + flag columns are read.
    # Store path: strata flags come STORED (see write_ivf_cell_store —
    # recomputing from the stored vector would mis-rank NULL-element
    # rows written through the vectorized engine's Arrow round trip).
    if store_pruned is not None:
        fetched = store_pruned.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec).alias("_cv"),
            "_deg",
            "_nan",
        )
    else:
        deg, nan_flag = _exact_score_flags(vec)
        fetched = corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec).alias("_cv"),
            deg.alias("_deg"),
            nan_flag.alias("_nan"),
        )
    q_exact = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec).alias("_qv")
    )
    rescored = (
        fetched.join(F.broadcast(cand), "neighbor_id")
        .join(F.broadcast(q_exact), "query_id")
        .withColumn("cosine", _exact_cosine_over_flags())
    )
    return _rank_topk(rescored, k)


def label_outliers(
    emb: DataFrame,
    vec: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    threshold: float = 0.0,
) -> DataFrame:
    """Embedding-space cohesion check for labeled data: cosine of each
    vector to its own label's centroid, flagging vectors below
    ``threshold`` — the standard screen for mislabeled / corrupted
    rows before embeddings feed curation decisions.

    Scale shape: centroids are an element-wise mean via posexplode +
    TWO partial-agg groupBys (shuffle keyed on (label, dim) — corpus ×
    dim rows combiner-reduced, the same shape as IVF's centroid step);
    the centroid table is |labels| rows → broadcast back; the cosine
    is one staged-norm dot per row, no per-pair recompute (the vector
    and its norm are named columns, see brute_force_topk).
    """
    dv = F.transform(F.col(vec), lambda x: x.cast("double"))
    staged = emb.select(F.col(id_col), F.col(label_col), dv.alias("_v"))
    exploded = staged.select(
        label_col, F.posexplode("_v").alias("pos", "x")
    )
    cent = (
        exploded.groupBy(label_col, "pos")
        .agg(F.avg("x").alias("m"))
        .groupBy(label_col)
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("_pm"))
        .select(
            label_col,
            F.transform(F.col("_pm"), lambda s: s["m"]).alias("_cen"),
        )
    )
    joined = staged.join(F.broadcast(cent), label_col)
    dot = F.aggregate(
        F.zip_with(F.col("_v"), F.col("_cen"), lambda x, y: x * y),
        F.lit(0.0),
        lambda s, x: s + x,
    )
    nv = F.sqrt(
        F.aggregate(
            F.transform(F.col("_v"), lambda x: x * x),
            F.lit(0.0),
            lambda s, x: s + x,
        )
    )
    nc = F.sqrt(
        F.aggregate(
            F.transform(F.col("_cen"), lambda x: x * x),
            F.lit(0.0),
            lambda s, x: s + x,
        )
    )
    # try_divide: ANSI mode (on in this engine's sessions) raises on
    # division by zero; a zero-norm (all-zero / corrupted) vector must
    # instead surface as NULL cosine — it has no direction, and such a
    # row is exactly what this screen exists to flag, so NULL coalesces
    # to outlier=true rather than letting three-valued NULL slip
    # through a downstream filter.
    cos = F.round(F.try_divide(dot, nv * nc), 4) + F.lit(0.0)
    return joined.select(
        id_col,
        label_col,
        cos.alias("cosine_to_centroid"),
        F.coalesce(cos < F.lit(threshold), F.lit(True)).alias("is_outlier"),
    )


#: semantic_dedup auto-k: aim for clusters of about this many rows.
#: SemDeDup's pairwise is sum(b_i^2) — bounded only if cluster size b
#: stays roughly constant as the corpus grows, i.e. k must scale with
#: n.  1024 keeps each cluster's pair count near 0.5M (cheap for the
#: codegen'd cosine) while the floor below keeps k tiny on test data.
_SEM_TARGET_CLUSTER = 1024

#: semantic_dedup auto-k floor — also the value every oracle-checked
#: scale resolves to (sf0.01: 500 rows, sf0.1: 2,000 rows → k = 8), so
#: auto-k changes nothing below ~8k rows by construction.
_SEM_K_FLOOR = 8

#: semantic_dedup switches to the Arrow/numpy matmul pairwise (and
#: the numpy assignment) at this corpus size.  Gated so every
#: DuckDB-oracle scale (sf0.01: 500 rows, sf0.1: 2,000, ×10: 20k)
#: stays on the bit-exact codegen'd join path and the declarative
#: assignment.  ×30 and beyond (60k+) cross the gate, where
#: the interpreted HOF dot product is the measured bottleneck (~10⁹
#: interpreted dots = 1,102 s uncollapsed at ×1000).
_SEM_VECTORIZE_MIN_ROWS = 50_000

#: blocked-matmul tile sizes for the vectorized pairwise: target rows
#: × candidate columns per numpy matmul.  1024×8192 doubles ≈ 64 MiB
#: for the product block — bounded per task regardless of cluster size.
_VEC_TBLK = 1024
_VEC_CBLK = 8192
#: Row-block for the TWO-LEVEL assignment search: its per-block
#: temporaries are m×√k (16 MiB at k≈58k), not m×k (which is what
#: pins the exact path to 1024 — 480 MiB/block at the same k), and
#: bigger blocks amortize the per-cell masked-matmul overhead
#: (measured solo optimum ≈ 8192: 28.5k rows/s/proc vs 19k at 1024).
_VEC_TBLK_TREE = 8192


def _pairwise_drops_vectorized(
    staged: DataFrame, id_col: str, tau: float, salt: int = _SEM_SALT
) -> DataFrame:
    """Within-cluster SemDeDup pairwise as an Arrow ``applyInPandas``
    numpy matmul — the scale twin of the salted self-join in
    :func:`semantic_dedup`.

    Same pair semantics, ~10–50× less per-dot cost: the join path
    evaluates one INTERPRETED higher-order ``zip_with``/``aggregate``
    dot per pair (the measured ×1000 envelope: ~10⁹ interpreted dots =
    1,102 s uncollapsed); here each (cluster, salt) group computes its
    dots as blocked BLAS matmuls over an Arrow-transferred float64
    matrix.

    Distribution mirrors the join's salt fan-out: every row owns one
    deterministic salt (``pmod(xxhash64(id), salt)``); the group for
    (cluster c, salt s) receives ALL of c's rows (the replicated
    a-side) and is responsible for verdicts on the rows whose OWN salt
    is s — so a hot cluster fans out ×salt tasks and each target id is
    emitted by exactly one group (no distinct needed).  ``salt`` is
    ADAPTIVE here (unlike the join's fixed ×_SEM_SALT): replication
    through the Arrow shuffle costs ×salt, and once the cluster count
    k already saturates the cluster's task slots extra fan-out buys
    nothing — the caller passes ~ceil(256/k) clamped to
    [1, _SEM_SALT], so small-k corpora keep full hot-cluster
    protection and large-k corpora shuffle each row once.

    Spark-comparison parity (pinned by the join-equivalence pytest):
    - rounding: HALF_UP at 4 decimals (``sign·floor(|c|·1e4+0.5)``),
      matching Spark's ``round`` — numpy's default would be half-even;
    - NULL vectors / NULL-element vectors are inert (cosine NULL never
      satisfies ``>= tau``): filtered out before the pandas stage;
    - NaN-component vectors follow Spark's nanSafeCompare ordering
      (NaN > everything, so ``round(NaN,4) >= tau`` is TRUE): a NaN
      row drops EVERY higher-id cluster-mate and is dropped by ANY
      lower-id mate — handled as rank arithmetic, no NaN matmul;
    - zero-norm vectors never reach this stage: the ANSI assignment
      cosine in :func:`with_nearest_centroid` raises DIVIDE_BY_ZERO
      when the staged assignment materializes, same as the join path.
    """
    import numpy as np
    import pandas as pd

    # `_deg` / `_isnan` are PRE-COMPUTED by the caller on the original
    # vector column BEFORE the assignment mapInPandas: the Arrow→pandas
    # round-trip represents NULL array elements as NaN, so deriving the
    # flags from the post-assignment vector would silently promote
    # inert NULL-element rows into poisonous NaN rows (caught by the
    # join-equivalence pytest).
    pool = (
        staged.filter(~F.col("_deg"))
        .select(
            F.col(id_col).cast("bigint").alias("_id"),
            "list_id",
            "_dv",
            "_isnan",
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(salt))
            .cast("int")
            .alias("_bs"),
        )
        .withColumn(
            "_s", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
        )
    )

    def _drops(pdf: "pd.DataFrame") -> "pd.DataFrame":
        s = int(pdf["_s"].iloc[0])
        ids = pdf["_id"].to_numpy(dtype="int64")
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        nan_mask = pdf["_isnan"].to_numpy(dtype=bool)[order]
        tgt = pdf["_bs"].to_numpy()[order] == s
        out: list[int] = []
        if not len(ids):
            return pd.DataFrame({"_id": pd.Series(out, dtype="int64")})
        min_all = ids[0]
        nan_ids = ids[nan_mask]
        min_nan = nan_ids[0] if len(nan_ids) else None
        # NaN targets: dropped iff ANY lower-id (non-inert) row exists.
        for j in np.nonzero(tgt & nan_mask)[0]:
            if ids[j] > min_all:
                out.append(int(ids[j]))
        norm_idx = np.nonzero(~nan_mask)[0]
        if len(norm_idx):
            vecs = pdf["_dv"].to_numpy()[order]
            V = np.stack(
                [np.asarray(vecs[i], dtype="float64") for i in norm_idx]
            )
            n = np.sqrt((V * V).sum(axis=1))
            nids = ids[norm_idx]
            ntgt = tgt[norm_idx]
            tcand = np.nonzero(ntgt)[0]
            for t0 in range(0, len(tcand), _VEC_TBLK):
                tb = tcand[t0 : t0 + _VEC_TBLK]
                idt = nids[tb]
                drop_t = np.zeros(len(tb), dtype=bool)
                if min_nan is not None:
                    drop_t |= idt > min_nan
                # candidates: normal rows with strictly lower id (ids
                # are a pk, sorted asc — searchsorted bounds the scan)
                cmax = int(np.searchsorted(nids, idt.max()))
                Vt, nt = V[tb], n[tb]
                for c0 in range(0, cmax, _VEC_CBLK):
                    ce = min(c0 + _VEC_CBLK, cmax)
                    C = Vt @ V[c0:ce].T
                    C /= nt[:, None] * n[c0:ce][None, :]
                    rc = np.sign(C) * np.floor(np.abs(C) * 1e4 + 0.5) / 1e4
                    hit = rc >= tau
                    lower = nids[c0:ce][None, :] < idt[:, None]
                    drop_t |= (hit & lower).any(axis=1)
                out.extend(int(i) for i in idt[drop_t])
        return pd.DataFrame({"_id": pd.Series(out, dtype="int64")})

    return pool.groupBy("list_id", "_s").applyInPandas(
        _drops, schema="_id bigint"
    ).select(F.col("_id").alias(id_col))


def semantic_dedup_auto_k(
    n_rows: int,
    target_cluster_size: int = _SEM_TARGET_CLUSTER,
    floor: int = _SEM_K_FLOOR,
) -> int:
    """Pure auto-k rule for :func:`semantic_dedup`: enough centroids
    that the mean cluster holds ``target_cluster_size`` rows, floored."""
    import math

    return max(floor, math.ceil(n_rows / max(1, target_cluster_size)))


@job_scope("datapipe.similarity.semantic_dedup")
def semantic_dedup(
    corpus: DataFrame,
    num_centroids: int | None = 8,
    tau: float = 0.3,
    vec: str = "embedding",
    id_col: str = "vec_id",
    centroids: DataFrame | None = None,
    target_cluster_size: int = _SEM_TARGET_CLUSTER,
    collapse_exact: bool = True,
    corpus_rows: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the
    embedding space, then inside each cluster drop every row whose
    cosine to a LOWER-id cluster-mate is ≥ ``tau`` — the cheap
    cluster-then-pairwise alternative to all-pairs semantic dedup.

    Output: (id_col, list_id, keep) for EVERY corpus row; ``keep`` is
    false for the dropped near-duplicates (the canonical survivor of
    each dup group is its minimum id, matching the exact-dedup and
    cluster-resolution conventions in :mod:`.dedup` / :mod:`.cluster`).

    Plan shape, Spark-first:
    - assignment is the :func:`with_nearest_centroid` pure projection
      (centroids compiled to a plan literal under the 20k budget, a
      broadcast one-row LocalRelation past it; exact either way) —
      zero corpus shuffle;
    - within-cluster pairs come from a salted self equi-join on
      ``(list_id, salt)`` with the cosine filter inside the join; the
      staged assignment feeds three consumers (both join sides and
      the final keep flag), so it is persisted MEMORY_AND_DISK —
      computed once, never recomputed per branch;
    - the drop set is ``distinct`` over matched higher ids, then a
      pk-keyed left join flags survivors.

    Scale: cluster size is corpus_size / num_centroids — the paper
    runs k ≈ 10⁵ clusters at web scale precisely so each cluster's
    O(b²) pairwise stays bounded; ``num_centroids`` is that knob here.
    The pairwise never crosses clusters, so the worst case is
    sum(bᵢ²), not n².  Pass ``num_centroids=None`` to derive k from
    the corpus size (:func:`semantic_dedup_auto_k`): a FIXED k is the
    actual scale hazard — at ×100 test replication, k=8 meant 25k-row
    clusters and 2.5G within-cluster pairs (measured 1,681 s); auto-k
    keeps mean cluster size at ``target_cluster_size`` so pairwise
    work grows linearly with the corpus.  Auto-k costs one eager
    ``count()`` at plan-build time (parquet-metadata cheap, and the
    knob it sets cannot come from a lazy plan); the floor of 8 makes
    it a semantic no-op below ~8k rows — every oracle scale resolves
    to exactly k=8.

    ``collapse_exact`` (default on) runs the O(b²) pairwise over ONE
    representative per DISTINCT vector instead of per row — exact
    dedup before near-dup, the standard pipeline ordering.  This is
    output-IDENTICAL, not approximate: identical vectors share a
    cluster and have rounded cosine 1.0, so non-minimum ids of a
    group are dropped unconditionally, and any drop caused by a
    non-representative is also caused by its (lower-id) representative.
    NULL vectors and NULL-element vectors are excluded from collapse
    (cosine NULL is never ≥ tau, so they are inert in the pairwise and
    NOT cos-1 to their own copies; they stay their own
    representatives).  NaN-component vectors are NOT inert: under
    Spark's nanSafeCompare ordering NaN compares greater than every
    value, so ``round(NaN,4) >= tau`` is TRUE and ``_n2(NaN) > 0`` is
    TRUE — NaN rows ARE collapsible, DROP every higher-id cluster-mate
    (their cosine to anything is NaN), and are dropped by any lower-id
    mate; both modes treat them identically, so output equivalence
    holds (pytest-pinned with a NaN case).  Zero-norm vectors raise
    DIVIDE_BY_ZERO in the ANSI assignment cosine in BOTH modes,
    pre-existing behavior — the quality screens in this package flag
    them upstream.  Costs one vector-keyed groupBy + one NaN-safe join
    back; on corpora with heavy exact duplication the pairwise shrinks
    by the duplication factor squared.

    The within-cluster pair engine is picked by size, never by the
    caller: the salted codegen'd self-join (bit-exact vs the DuckDB
    oracle — its interpreted HOF dot evaluates left-to-right like the
    SQL formula) until the corpus row count is known (auto-k, or a
    ``corpus_rows`` hint) and ≥ :data:`_SEM_VECTORIZE_MIN_ROWS`; past
    it the Arrow ``applyInPandas`` blocked numpy matmul
    (:func:`_pairwise_drops_vectorized`, same pair semantics and salt
    fan-out, ~10–50× less per-dot cost — BLAS sum order differs in
    ulps, so only the 4-decimal rounding boundary could ever diverge).
    Every oracle-checked scale stays on the join engine and the exact
    declarative assignment.

    The vectorized engine assigns with :func:`_assign_nearest_vectorized`:
    the EXACT all-k matmul while n·k·dim fits
    :data:`_ASSIGN_EXACT_MAX_FLOPS`, the two-level coarse/fine BLAS
    search past it (:func:`resolve_assignment_probes`) —
    O(n·√k·(1+probes)) vs O(n·k), APPROXIMATE at coarse-cell
    boundaries.  Because auto-k grows k with n, exact assignment is
    O(n²/target) — measured ~half the ×10000 uncollapsed envelope
    (1,519 s exact vs 813 s tree, kept-set divergence 6 of ~1900).  The
    budget costs one ``first()`` for the vector dim.  It is computed on
    the CORPUS row count — an upper bound of the assignment pool under
    ``collapse_exact`` (pool = distinct vectors); on the distinct-heavy
    corpora this budget exists for, the two coincide, and on
    replication-heavy test corpora the flip is merely conservative (the
    tree on a tiny pool costs the same as exact).

    ``corpus_rows`` accuracy caveat (round-9 advisor, GUARDED since
    round 11): the hint is jobs-not-answers ONLY while the decisions
    it feeds stay below the answer-affecting thresholds.  An
    OVER-stated hint that pushes n·k·dim past
    :data:`_ASSIGN_EXACT_MAX_FLOPS` would flip the vectorized
    assignment to the APPROXIMATE two-level tree — keep/drop output
    could change at coarse-cell boundaries, not just the plan — so a
    hint-driven flip is now CROSS-CHECKED with a bounded limit-probe
    at the flip threshold: a confirmed flip proceeds (the probe is one
    bounded scan, ≪ the assignment it gates), an inflated hint warns
    loudly and keeps the exact all-k search (property-pinned: no hint
    value can change output at oracle scales).
    """
    from .costmodel import plan_rows
    from .dedup import spread_for_compute

    # ``corpus_rows`` is the no-job size hint (100 TB contract: a
    # pipeline that already knows its corpus size passes it and the
    # auto-k / engine decisions run zero jobs).  Unlike the boolean
    # gates, auto-k needs the VALUE of n, so the bounded-probe fallback
    # doesn't apply — but Catalyst sometimes KNOWS n exactly with zero
    # jobs (a LocalRelation / Range root: :func:`.costmodel.plan_rows`,
    # which REJECTS CBO estimates precisely because n here is
    # answer-affecting), so the order is hint → exact plan stats → one
    # count (the same scan the assignment is about to pay anyway, and
    # it feeds k).
    n_rows: int | None = int(corpus_rows) if corpus_rows is not None else None
    if num_centroids is None:
        if n_rows is None:
            n_rows = plan_rows(corpus)
        if n_rows is None:
            n_rows = corpus.count()
        num_centroids = semantic_dedup_auto_k(n_rows, target_cluster_size)
    # explicit k = the oracle/test path; without a scale signal, stay on
    # the bit-exact join engine — but an explicit corpus_rows hint IS a
    # scale signal and is honored.
    vectorized = n_rows is not None and n_rows >= _SEM_VECTORIZE_MIN_ROWS
    coarse_probes = None
    if vectorized:
        dim_row = (
            corpus.select(F.size(F.col(vec)).alias("_d"))
            .filter(F.col("_d").isNotNull())
            .first()
        )
        dim = dim_row["_d"] if dim_row else 0
        coarse_probes = resolve_assignment_probes(
            n_rows, num_centroids, dim
        )
        if coarse_probes is not None and corpus_rows is not None:
            # The tree flip is ANSWER-affecting (approximate at
            # coarse-cell boundaries), and here a caller HINT alone
            # pushed it — cross-check with a BOUNDED limit-probe at
            # the flip threshold before trusting it (round-10
            # advisor: an over-stated hint must not silently change
            # keep/drop).  At genuine decade scale the probe
            # confirms in one bounded scan (≪ the assignment it
            # gates); an inflated hint is exposed and the EXACT
            # all-k search stands, loudly.
            from .costmodel import (
                JVM_INT_MAX,
                rows_at_least,
                work_rows_threshold,
            )

            flip_rows = work_rows_threshold(
                _ASSIGN_EXACT_MAX_FLOPS,
                max(1, num_centroids) * max(1, dim),
            )
            # Small k·dim pushes flip_rows past the JVM int clamp
            # (2^31−1), where the limit-probe saturates and can
            # never CONFIRM the flip — probing at the clamped cap
            # instead keeps the probe decisive in the one direction
            # it can be: a corpus smaller than the cap is
            # definitively smaller than the flip threshold too
            # (round-11 advisor: an ACCURATE decade-scale hint must
            # not be overridden with a false 'over-stated' warning
            # after a 2^31-row scan that cannot succeed).
            probe_cap = min(flip_rows, JVM_INT_MAX)
            if not rows_at_least(corpus, probe_cap):
                import warnings

                warnings.warn(
                    f"corpus_rows={corpus_rows} would flip the "
                    "assignment to the APPROXIMATE two-level tree, "
                    f"but a bounded probe found < {probe_cap} rows "
                    "— the hint is over-stated; keeping the EXACT "
                    "all-k assignment.",
                    stacklevel=3,
                )
                coarse_probes = None
            elif flip_rows > probe_cap:
                import warnings

                # The probe saturated at the JVM cap: the corpus is
                # confirmed ≥ 2^31−1 rows, the hint is plausible at
                # that magnitude, and the exact flip threshold is
                # unverifiable — trust the hint (the guard's target
                # — an inflated hint flipping a SMALL oracle corpus
                # — is excluded by the ≥2^31−1 confirmation) and
                # say the probe was inconclusive, not over-stated.
                warnings.warn(
                    f"corpus_rows={corpus_rows} flips the assignment "
                    "to the APPROXIMATE two-level tree; the bounded "
                    f"probe confirmed ≥ {probe_cap} rows but the "
                    f"flip threshold {flip_rows} exceeds the probe's "
                    "JVM limit — proceeding on the hint "
                    "(inconclusive probe).",
                    stacklevel=3,
                )
    if centroids is None:
        # centroid SEEDS always come from the full corpus (pmod over
        # every id), so collapse_exact cannot change the clustering —
        # a precondition of its output-equality proof below.
        centroids = build_centroids(corpus, num_centroids, vec=vec, id_col=id_col)
    # collect BEFORE the pool below is built: collected after it, the
    # optimizer failed the plan with `key not found: embedding#N` in
    # the pool union's constraint propagation (Spark 4.1.2,
    # semdedup_prune at sf0.01).
    cen = None if vectorized else _centroid_set(centroids)

    # Exact-duplicate collapse (standard practice: exact dedup before
    # near-dup).  Identical vectors always share a cluster (assignment
    # is a pure function of the vector) and have rounded cosine 1.0 ≥
    # tau to each other, so every non-minimum id of an identical-vector
    # group is dropped against its group minimum UNCONDITIONALLY — the
    # O(b²) pairwise only ever needs ONE representative (the min id)
    # per distinct vector.  A representative r is dropped iff some
    # lower-id cluster mate has cos ≥ tau; if that mate is itself a
    # non-representative m of group G', then rep(G') = min(G') ≤ m < r
    # with the identical cosine, so checking representatives alone is
    # EXACTLY equivalent.  Costs one vector-keyed groupBy plus one
    # NaN-safe join back over the corpus; collapses the pairwise from
    # sum(b²) over rows to sum(b²) over DISTINCT vectors.
    if collapse_exact:
        keyed = corpus.select(id_col, vec)
        # NULL / NULL-element vectors are INERT in the pairwise (their
        # cosine to anything is NULL, and NULL ≥ tau is NULL → filter
        # false), and they are NOT cos-1 to their own copies — so they
        # must not be collapse-dropped: each stays its own
        # representative (_n2 is NULL → _collapsible false).
        # NaN-component vectors are the OPPOSITE under Spark's
        # nanSafeCompare ordering (NaN > any value): _n2(NaN) > 0 is
        # TRUE → collapsible, and round(NaN,4) ≥ tau is TRUE → a NaN
        # row drops every higher-id mate and is dropped by any
        # lower-id mate.  Both modes treat NaN identically (group rep
        # inherits the same poisonous cosine), so collapse stays
        # output-identical — pinned by the NaN case in
        # test_semantic_dedup_collapse_exact_equals_full_pairwise.
        _n2 = F.aggregate(
            F.transform(
                F.col(vec), lambda x: x.cast("double") * x.cast("double")
            ),
            F.lit(0.0),
            lambda s, x: s + x,
        )
        group_reps = (
            keyed.groupBy(vec)
            .agg(F.min(id_col).alias("_rep"))
            .withColumn(
                "_collapsible", F.coalesce(_n2 > 0, F.lit(False))
            )
        )
        pool = group_reps.filter("_collapsible").select(
            F.col("_rep").alias(id_col), vec
        ).unionByName(
            keyed.join(
                group_reps.filter(~F.col("_collapsible")).select(
                    F.col(vec).alias("_gv")
                ),
                F.col(vec).eqNullSafe(F.col("_gv")),
            ).select(id_col, vec)
        )
    else:
        # spread: a small parquet arrives as ONE scan partition, which
        # would serialize the interpreted assignment ranking onto a
        # single core (no-op at real scale — see
        # dedup.spread_for_compute); the collapse branch is already
        # distributed by its groupBy exchange.
        pool = spread_for_compute(corpus.select(id_col, vec), id_col)
    if vectorized:
        # numpy assignment: the interpreted assignment was THE residual
        # cost once the pairwise went vectorized (measured 205 s of
        # 238 s at ×1000).  Exact all-k under _ASSIGN_EXACT_MAX_FLOPS.
        # Degenerate/NaN flags MUST come from the pre-pandas vector:
        # the Arrow round-trip rewrites NULL elements as NaN (see
        # _pairwise_drops_vectorized).
        flagged = pool.withColumn(
            "_deg",
            F.col(vec).isNull()
            | F.coalesce(
                F.exists(F.col(vec), lambda x: x.isNull()), F.lit(False)
            ),
        ).withColumn(
            "_isnan",
            F.coalesce(F.exists(F.col(vec), F.isnan), F.lit(False)),
        )
        assigned = _assign_nearest_vectorized(
            flagged, centroids, vec, "list_id",
            coarse_probes=coarse_probes,
        ).select(
            id_col, "list_id", F.col(vec).alias("_v"), "_deg", "_isnan"
        )
    else:
        # declarative at every k·dim: the join engine's
        # NULL-vs-NaN-element pairwise semantics are defined
        # declaratively, and the Arrow round-trip in the vectorized
        # assigner would rewrite NULL elements to NaN before the
        # interpreted pairwise ever saw them.
        assigned = with_nearest_centroid(
            pool, centroids, vec, "list_id", _cen=cen
        ).select(id_col, "list_id", F.col(vec).alias("_v"))

    # Stage the double cast and the vector norm ONCE PER ROW before the
    # pairwise join: the interpreted higher-order norm subtree would
    # otherwise re-evaluate per PAIR (O(b²) per cluster instead of
    # O(b)).  dot/(na*nb) below is the exact embedding_cosine
    # expression tree over the staged inputs, so 4-decimal rounding
    # stays bitwise-identical to the oracle's inline formula.
    # (The vectorized engine computes norms in numpy — skip the
    # interpreted per-row norm there.)
    dbl = F.transform(F.col("_v"), lambda x: x.cast("double"))
    staged = assigned.withColumn("_dv", dbl)
    if not vectorized:
        staged = staged.withColumn(
            "_nn",
            F.sqrt(
                F.aggregate(
                    F.transform(F.col("_dv"), lambda x: x * x),
                    F.lit(0.0),
                    lambda s, x: s + x,
                )
            ),
        )
    # three consumers (join sides a/b, final keep flag): one
    # localCheckpoint materializes the assignment + staged norms so
    # the interpreted ranking runs once, not thrice (the cluster.py
    # label-propagation precedent).  One extra pass over the corpus
    # at scale, traded for never re-deriving it.  LAZY (round-13
    # opt): the first consumer — the vectorized engine's shape
    # groupBy, or the join engine's pairwise itself — materializes
    # it inside a job that was running anyway, instead of a separate
    # eager driver barrier at plan-build time; every later reference
    # still reads the persisted blocks.
    staged = staged.localCheckpoint(eager=False)
    if vectorized:
        # Arrow/numpy blocked-matmul engine — same pair semantics and
        # salt fan-out as the join below, ~10–50× cheaper per dot (the
        # ×1000 uncollapsed envelope was ~10⁹ INTERPRETED HOF dots =
        # 1,102 s); gated off every oracle scale by the row-count
        # budget above.  The salt is keyed on the OBSERVED cluster
        # shape, not k (round-9; see resolve_pairwise_salt): one
        # count-only groupBy over the just-checkpointed assignment —
        # list_id only, no vectors travel, no corpus re-derivation.
        shape = (
            staged.groupBy("list_id")
            .agg(F.count(F.lit(1)).alias("_m"))
            .agg(
                F.count(F.lit(1)).alias("_live"),
                F.max("_m").alias("_mx"),
            )
            .first()
        )
        vsalt = resolve_pairwise_salt(
            int(shape["_live"] or 0),
            int(shape["_mx"] or 0),
            target=target_cluster_size,
        )
        drops = _pairwise_drops_vectorized(
            staged, id_col, tau, salt=vsalt
        ).withColumn("_dropped", F.lit(True))
    else:
        # Salt the pairwise join: with few clusters the plain list_id
        # key caps parallelism at num_centroids (and a hot cluster at
        # 100 TB is one straggler task).  The b side takes a
        # deterministic salt, the a side replicates across all
        # _SEM_SALT salts — pairs are unchanged, the per-cluster O(b²)
        # work fans out ×_SEM_SALT.
        a = staged.select(
            F.col(id_col).alias("_ida"), "list_id",
            F.col("_dv").alias("_va"), F.col("_nn").alias("_na"),
        ).withColumn("_s", F.explode(F.sequence(F.lit(0), F.lit(_SEM_SALT - 1))))
        b = staged.select(
            F.col(id_col).alias("_idb"), "list_id",
            F.col("_dv").alias("_vb"), F.col("_nn").alias("_nb"),
        ).withColumn("_s", F.pmod(F.xxhash64(F.col("_idb")), F.lit(_SEM_SALT)).cast("int"))
        dot = F.aggregate(
            F.zip_with(F.col("_va"), F.col("_vb"), lambda x, y: x * y),
            F.lit(0.0),
            lambda s, x: s + x,
        )
        drops = (
            a.join(b, ["list_id", "_s"])
            .filter(F.col("_ida") < F.col("_idb"))
            .filter(
                F.round(dot / (F.col("_na") * F.col("_nb")), 4) >= F.lit(tau)
            )
            .select(F.col("_idb").alias(id_col))
            .distinct()
            .withColumn("_dropped", F.lit(True))
        )
    rep_flags = (
        staged.select(id_col, "list_id")
        .join(drops, id_col, "left")
        .select(
            id_col,
            F.col("list_id").cast("bigint").alias("list_id"),
            F.coalesce(~F.col("_dropped"), F.lit(True)).alias("keep"),
        )
    )
    if not collapse_exact:
        return rep_flags
    # Fan the representative verdicts back out to every corpus row: a
    # member inherits its representative's cluster (identical vector →
    # identical assignment) and keeps only if it IS the representative
    # and the representative survived the pairwise; degenerate rows
    # are their own representatives in the pool, so they inherit their
    # own (always-keep) verdict.  NaN-safe vector equality so every
    # row rejoins its group.
    # merge hint: group_reps is corpus-sized on a distinct-heavy
    # corpus and carries the raw vector array — the post-aggregation
    # compressed-stats profile AQE mis-estimated into a 1 GiB
    # runtime-broadcast abort on the LSH verify joins (see
    # dedup.jaccard_pairs).  Pin to sort-merge.
    members = corpus.select(id_col, vec).join(
        group_reps.select(
            F.col(vec).alias("_gv"), "_rep", "_collapsible"
        ).hint("merge"),
        F.col(vec).eqNullSafe(F.col("_gv")),
    ).withColumn(
        "_repx",
        F.when(F.col("_collapsible"), F.col("_rep")).otherwise(
            F.col(id_col)
        ),
    )
    return (
        members.join(
            rep_flags.select(
                F.col(id_col).alias("_repx"),
                "list_id",
                F.col("keep").alias("_rep_keep"),
            ),
            "_repx",
        )
        .select(
            id_col,
            "list_id",
            (
                (F.col(id_col) == F.col("_repx")) & F.col("_rep_keep")
            ).alias("keep"),
        )
    )


#: brute_force_topk switches to the Arrow blocked-matmul
#: scan once corpus_rows × nq × dim exceeds this budget — calibrated
#: to the round-8 measured flip (50k corpus rows at the bench shape of
#: 5 queries × 64 dims = 1.6e7), now expressed in FLOPs so a wide-dim
#: or many-query call flips proportionally earlier.  Same oracle-gate
#: discipline as the other vectorized engines: every DuckDB-checked
#: scale (sf0.01 500×5×64 = 1.6e5, sf0.1 2k → 6.4e5, ×10 20k → 6.4e6)
#: stays on the bit-exact join path.
_BF_JOIN_MAX_FLOPS = 1.6e7

#: Per-chunk bound for the query side of the blocked scan (the query
#: matrix is broadcast, so each chunk must stay driver-small — same
#: class as the centroid-table pins).  Query sets past it are batched
#: transparently: one collect, ≤this many per broadcast/scan pass.
_BF_MAX_QUERIES = 10_000


def brute_force_topk_blocked(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """EXACT cosine top-k as a blocked Arrow/numpy scan — the scale
    twin of :func:`brute_force_topk` (and the ground-truth engine for
    decade-scale recall measurement: the join engine's interpreted HOF
    dot at 20M corpus × 100 queries is ~2×10⁹ interpreted evaluations).

    Plan shape: the query side is collected ONCE (driver memory is
    O(nq·dim) — the query side is the small side by the brute-force
    contract) and processed in chunks of ≤ ``_BF_MAX_QUERIES``, so
    each BROADCAST query matrix stays driver-small regardless of nq
    (round-9: the hard raise past 10k became transparent batching —
    decade-scale ground truth needs 100k-query sets).  Per chunk the
    corpus side is a pure ``mapInPandas`` — each Arrow batch computes
    its m×q cosine block as one BLAS matmul and emits only its
    per-query top-k rows, so the global ranking window sees ≤
    chunks×batches×q×k rows, never the corpus.  Zero corpus shuffle
    before the final candidate-only ranking; the corpus is re-SCANNED
    once per chunk (the honest cost of chunked brute force at 100 TB —
    past a few chunks the IVF route is the right tool).

    Mixed vector LENGTHS (round-9, the ADVICE shape-crash fix): the
    join engine scores a length-mismatched pair at cosine NULL
    (``zip_with`` pads with NULL → NULL dot).  A single matrix cannot
    host mixed dims, so queries are grouped by vector length — one
    scan per distinct length — and within a group every corpus vector
    whose length differs folds into the degenerate NULL-cosine
    stratum: exactly the join engine's pairing, and no ``np.stack`` /
    matmul shape crash.  Degenerate (NULL / NULL-element) queries are
    hosted by exactly one group (they only need neighbor ids), so no
    duplicate emission across scans.

    Parity with the join engine (pinned by the engine-equivalence
    pytest): HALF_UP 4-decimal rounding, −0.0 normalized; ranking is
    cosine DESC under nanSafeCompare (NaN first, NULL last) with
    neighbor-id ASC tiebreak; self-pairs excluded; degenerate (NULL /
    NULL-element / length-mismatched) corpus vectors pair at cosine
    NULL (ranked last, still emitted when fewer than k real neighbors
    rank above them); a degenerate QUERY vector ranks the whole corpus
    at cosine NULL — its top-k is the k lowest neighbor ids.
    Divergence (documented, same as :func:`_assign_nearest_vectorized`):
    zero-norm vectors rank like NaN here instead of raising
    DIVIDE_BY_ZERO — zero-norm is out of contract in both engines.
    """
    spark = corpus.sparkSession
    out_cols = "query_id bigint, rank int, neighbor_id bigint, cosine double"
    qrows = list(queries.select(id_col, vec).collect())
    if not qrows:
        return spark.createDataFrame([], out_cols)
    groups: dict[int, list] = {}
    deg_qrows = []
    for r in qrows:
        v = r[1]
        if v is None or any(x is None for x in v):
            deg_qrows.append(r)
        else:
            groups.setdefault(len(v), []).append(r)
    if groups:
        host = max(groups, key=lambda d: len(groups[d]))
        groups[host].extend(deg_qrows)
    else:
        groups = {0: deg_qrows}
    cands = []
    for dim in sorted(groups):
        grows = sorted(groups[dim], key=lambda r: r[0])
        for c0 in range(0, len(grows), _BF_MAX_QUERIES):
            cands.append(
                _bf_blocked_scan(
                    corpus, grows[c0 : c0 + _BF_MAX_QUERIES], dim, k,
                    vec, id_col,
                )
            )
    cand = cands[0]
    for extra in cands[1:]:
        cand = cand.unionByName(extra)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


def _bf_blocked_scan(
    corpus: DataFrame,
    qrows: list,
    dim: int,
    k: int,
    vec: str,
    id_col: str,
) -> DataFrame:
    """One broadcast+scan pass of :func:`brute_force_topk_blocked` for
    a single (length-group, ≤``_BF_MAX_QUERIES``) query chunk: emits
    per-batch top-k candidate rows (query_id, neighbor_id, cosine)
    with true-NaN cosines restored Spark-side — the final global
    ranking lives in the caller."""
    import numpy as np
    import pandas as pd

    q_ids = np.array([int(r[0]) for r in qrows], dtype="int64")
    nq = len(q_ids)
    q_deg = np.array(
        [
            r[1] is None
            or any(x is None for x in r[1])
            or len(r[1]) != dim
            for r in qrows
        ],
        dtype=bool,
    )
    Q = np.zeros((nq, dim))
    for i, r in enumerate(qrows):
        if not q_deg[i]:
            Q[i] = np.asarray([float(x) for x in r[1]])
    qn = np.sqrt((Q * Q).sum(axis=1))
    bc = corpus.sparkSession.sparkContext.broadcast((q_ids, q_deg, Q, qn))

    # length-mismatched corpus vectors fold into the NULL-cosine
    # stratum — the join engine's zip_with gives their pairs NULL dots
    # (see brute_force_topk_blocked docstring).
    deg_expr = (
        F.col(vec).isNull()
        | F.coalesce(
            F.exists(F.col(vec), lambda x: x.isNull()), F.lit(False)
        )
        | (F.size(F.col(vec)) != F.lit(dim))
    )
    src = corpus.select(
        F.col(id_col).alias("_nid"),
        F.when(deg_expr, None).otherwise(F.col(vec)).alias("_v"),
        deg_expr.alias("_deg"),
    )

    def _scan(batches):
        q_ids_, q_deg_, Q_, qn_ = bc.value
        nq_ = len(q_ids_)
        for pdf in batches:
            ids = pdf["_nid"].to_numpy(dtype="int64")
            deg = pdf["_deg"].to_numpy(dtype=bool)
            m = len(ids)
            out_q, out_n, out_c = [], [], []
            clean = np.nonzero(~deg)[0]
            if clean.size:
                V = np.stack(
                    [np.asarray(v, dtype="float64") for v in pdf["_v"].to_numpy()[clean]]
                )
                vn = np.sqrt((V * V).sum(axis=1))
                with np.errstate(divide="ignore", invalid="ignore"):
                    S = (V @ Q_.T) / (vn[:, None] * qn_[None, :])
                rc = np.sign(S) * np.floor(np.abs(S) * 1e4 + 0.5) / 1e4 + 0.0
                key = np.where(np.isnan(S), np.inf, rc)
                cids = ids[clean]
            # deg-corpus ids ascending (the NULL-cosine stratum)
            dids = np.sort(ids[deg])
            for j in range(nq_):
                qid = int(q_ids_[j])
                if q_deg_[j]:
                    # every pair is cosine NULL: k lowest ids win
                    allids = np.sort(ids[ids != qid])[:k]
                    out_q.extend([qid] * len(allids))
                    out_n.extend(int(x) for x in allids)
                    out_c.extend([None] * len(allids))
                    continue
                if clean.size:
                    mask = cids != qid
                    kj = key[:, j][mask]
                    idj = cids[mask]
                    rcj = rc[:, j][mask]
                    if len(idj):
                        top = np.lexsort((idj, -kj))[:k]
                        out_q.extend([qid] * len(top))
                        out_n.extend(int(x) for x in idj[top])
                        out_c.extend(float(c) for c in rcj[top])
                dj = dids[dids != qid][:k]
                out_q.extend([qid] * len(dj))
                out_n.extend(int(x) for x in dj)
                out_c.extend([None] * len(dj))
            cos = pd.Series(out_c, dtype="float64")
            yield pd.DataFrame(
                {
                    "query_id": pd.Series(out_q, dtype="int64"),
                    "neighbor_id": pd.Series(out_n, dtype="int64"),
                    "cosine": cos,
                    # pandas float64 holds NaN for BOTH the NULL-cosine
                    # stratum (None above) and true-NaN cosines, and
                    # the Arrow return path renders both as NULL — this
                    # flag is the only way to tell them apart in Spark.
                    "is_nan": pd.Series(
                        [c is not None and np.isnan(c) for c in out_c],
                        dtype="bool",
                    ),
                }
            )

    cand = src.mapInPandas(
        _scan,
        schema="query_id bigint, neighbor_id bigint, cosine double, "
        "is_nan boolean",
    )
    # restore true-NaN cosines (nanSafeCompare ranks them FIRST under
    # desc, exactly like the join engine); NULL-stratum rows stay NULL
    # (ranked last, id-asc tiebreak)
    return cand.withColumn(
        "cosine",
        F.when(F.col("is_nan"), F.lit(float("nan"))).otherwise(
            F.col("cosine")
        ),
    ).drop("is_nan")
