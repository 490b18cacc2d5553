"""Document deduplication at scale: exact, MinHash+LSH, SimHash,
n-gram Jaccard, embedding-cosine near-dup.

Everything is pure DataFrame expressions — hashes via md5 (identical
across engines, so oracle-checkable), shingles via
split/sequence/transform, signatures via aggregate — no Python UDFs.

Scale design:
- exact dedup: one shuffle on the content hash; map-side partial.
- MinHash LSH: per-doc signature is a projection (no shuffle);
  candidate generation explodes each doc into `bands` rows and
  self-joins on (band_idx, band_key) — the classic bucket join. The
  band key space keeps buckets tiny, so the join output ≈ true
  near-dup pairs, not O(n²).
- SimHash: projection-only signature; near-dup = equal signature (or
  banded Hamming via split keys).
- embedding cosine: banded random-hyperplane LSH (bands × sign-bits,
  bucket count 2^bits scaling knob) bounds the candidate set via the
  same bucket-groupBy as MinHash; exact cosine verifies.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Default cap on LSH bucket size before pair enumeration.  A bucket of
#: b ids expands to b·(b-1)/2 pairs in ONE task; a degenerate hot bucket
#: (boilerplate/empty docs minhashing identically, zero vectors sharing
#: a sign pattern) would turn that task quadratic at 100 TB.  Standard
#: LSH practice is to drop (or secondary-hash) oversized buckets — they
#: carry almost no near-dup signal per pair anyway.  1024 ids ⇒ ≤523k
#: pairs per task, a bounded worst case.
DEFAULT_MAX_BUCKET_SIZE = 1024


def normalize_text(c: Column) -> Column:
    """Lowercase, collapse whitespace — canonical form for hashing."""
    return F.regexp_replace(F.trim(F.lower(c)), r"\s+", " ")


def explode_computed(
    df: DataFrame, arr: Column, out: str, keep: list[str]
) -> DataFrame:
    """``explode`` an EXPENSIVE computed array without re-evaluating it.

    Plain ``F.explode`` lets Catalyst's ``InferFiltersFromGenerate``
    synthesize a ``size(arr) > 0`` pre-filter; predicate pushdown then
    substitutes the array expression through every upstream Project
    (undoing the staged-projection trick of :func:`with_shingles`) and
    below any Exchange — so the whole array (shingles: split() per
    element_at) is recomputed per row in a filter, sometimes on the
    unparallelized scan side.  Observed 10–30× slowdowns.

    ``explode_outer`` infers no filter; empty arrays surface as one
    NULL row which the filter on the OUTPUT attribute removes — and a
    predicate on a generated attribute can never be pushed below its
    Generate.  Only safe when the array has no NULL *elements* (true
    for every array built in this package: concat_ws/struct never
    yield NULL).
    """
    return df.select(*keep, F.explode_outer(arr).alias(out)).filter(
        F.col(out).isNotNull()
    )


def spread_for_compute(df: DataFrame, key: str | None = None) -> DataFrame:
    """Guarantee minimum parallelism for a compute-bound projection.

    Parquet splits by BYTES, not CPU cost: a few-MB file of long texts
    arrives as one scan partition, serializing shingle/hash-heavy
    projections onto a single core.  When the scan has fewer
    partitions than the cluster has slots, repartition up (hash on
    ``key`` when given — deterministic, no round-robin sort; round
    robin otherwise).  At real scale the scan already carries ≥ slots
    partitions and this is a NO-OP — no exchange is added.
    """
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= n_parts:
        return df
    return df.repartition(n_parts, key) if key else df.repartition(n_parts)


def exact_dedup(docs: DataFrame, text: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup on md5 of normalized text: per group keep min id,
    report group size."""
    return (
        docs.select(F.md5(normalize_text(F.col(text))).alias("text_hash"), id_col)
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def dedup_keep_best(
    docs: DataFrame,
    clusters: DataFrame,
    score: Column,
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
) -> DataFrame:
    """Quality-aware duplicate resolution: keep the BEST-scoring member
    of each duplicate cluster instead of the minimum-id one — the
    FineWeb/Gopher convention (among near-identical captures of a page,
    keep the longest / highest-quality one; min-id keeps whichever
    crawl happened to be ingested first).  Ties break to the LOWEST id
    (deterministic; requires a numeric id).

    ``clusters``: ``(id_col, cluster_col)`` — e.g.
    :func:`.cluster.duplicate_clusters` output filtered to
    ``cluster_size > 1``.  Docs absent from ``clusters`` are kept
    unconditionally.  ``score`` is any Column over ``docs``'s columns
    (token count, a quality score, a recency timestamp...).

    Scale shape: ONE hash join of the corpus against the cluster map
    (AQE broadcasts a small map; at worst the map is the duplicate
    subset, a fraction of the corpus), a groupBy argmax over cluster
    MEMBERS only, and a loser anti-join — the corpus itself is never
    shuffled on a cluster key, and the argmax is one partial-agg
    ``max_by`` struct, not a window sort.
    """
    # NULL scores (a NULL text under a token-count score, a missing
    # quality column) lose to ANY scored member: -inf instead of NULL
    # keeps the struct argmax deterministic — NULL inside an ordering
    # struct would make the winner depend on aggregation order.
    members = docs.join(clusters, id_col).select(
        F.col(id_col),
        F.col(cluster_col),
        F.coalesce(
            score.cast("double"), F.lit(float("-inf"))
        ).alias("_score"),
    )
    winners = members.groupBy(cluster_col).agg(
        F.max_by(
            F.col(id_col),
            F.struct(
                F.col("_score").alias("s"),
                (-F.col(id_col)).alias("neg_id"),
            ),
        ).alias("_keep")
    )
    losers = members.join(
        winners.select(F.col("_keep").alias(id_col)), id_col, "left_anti"
    ).select(id_col)
    return docs.join(losers, id_col, "left_anti")


def _shingles_of(words: Column, k: int = 3) -> Column:
    """Shingle expression over an (ideally already-materialized) words
    column.  element_at per offset = O(1) access, no per-shingle array
    copy."""
    n = F.size(words)
    idx = F.sequence(F.lit(1), F.greatest(n - k + 1, F.lit(1)))

    def shingle(i: Column) -> Column:
        return F.concat_ws(
            " ", *[F.element_at(words, i + off) for off in range(k)]
        )

    return F.when(n >= k, F.array_distinct(F.transform(idx, shingle))).otherwise(
        F.array_distinct(F.array(F.array_join(words, " ")))
    )


def with_shingles(
    df: DataFrame, text: str = "text", out: str = "_shingles", k: int = 3
) -> DataFrame:
    """Materialize the shingle array as a real column via staged
    projections: normalize+split once per row, shingle from attribute
    references.  The multi-reference aliases are non-cheap, so
    CollapseProject keeps the stages separate — each row computes
    split() exactly once regardless of how many downstream expressions
    (16 MinHash seeds, Jaccard both sides) consume the shingles."""
    return (
        df.withColumn("_dd_words", F.split(normalize_text(F.col(text)), " "))
        .withColumn(out, _shingles_of(F.col("_dd_words"), k))
        .drop("_dd_words")
    )


def _seeded_hash(seed: int):
    """Single-parameter lambda factory for transform() — a two-parameter
    lambda would receive the array INDEX as its second argument (the
    PySpark higher-order-function convention), silently shadowing the
    seed."""
    return lambda s: F.xxhash64(F.lit(seed), s)


def minhash_signature(
    shingles: Column, num_hashes: int = 16, hash_family: str = "xxhash64"
) -> Column:
    """MinHash signature: for seed i, min over shingles of a seeded
    hash of the shingle.

    Two families, one plan shape:
    - ``xxhash64`` (production default) — primitive-long minima; beats
      md5-of-concat by ~10× because higher-order functions evaluate
      interpreted (no whole-stage codegen), so per-shingle cost is
      dominated by allocation and xxhash64 materializes no hex string.
    - ``md5`` (oracle mode) — lowercase-hex string minima; slower, but
      DuckDB computes the exact same strings, making the WHOLE LSH
      pipeline hash-checkable end-to-end (lexicographic min over hex
      is engine-portable: ASCII, binary collation both sides).
    """
    if hash_family not in ("xxhash64", "md5"):
        raise KeyError(hash_family)
    # ONE nested transform over the seed sequence instead of num_hashes
    # separate array_min expressions: same per-element hash invocations
    # in the same order (seed i is an INT both as sequence element and
    # as the old literal, so xxhash64 sees identical input types and
    # md5 the identical digit strings — bit-identical minima), but a
    # single expression instance (the planes_lit lesson: N separate
    # interpreted HOF expressions cost ~2× in overhead) and ~40 py4j
    # calls to build instead of ~30 per seed (round-13 opt).
    seeds = F.sequence(F.lit(0), F.lit(num_hashes - 1))
    if hash_family == "xxhash64":
        return F.transform(
            seeds,
            lambda i: F.array_min(
                F.transform(shingles, lambda s: F.xxhash64(i, s))
            ),
        )
    return F.transform(
        seeds,
        lambda i: F.array_min(
            F.transform(
                shingles,
                lambda s: F.md5(
                    F.concat(i.cast("string"), F.lit("|"), s)
                ),
            )
        ),
    )


def lsh_candidate_pairs(
    docs: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    hash_family: str = "xxhash64",
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
    *,
    k: int = 3,
) -> DataFrame:
    """MinHash-LSH candidate pairs: equal band (rows-per-band minhash
    slice) in at least one of `bands` buckets.

    Returns (id_a, id_b) with id_a < id_b, deduplicated across bands.
    The explode+self-join shuffles on the band key — bucket sizes stay
    O(dups), so this scales linearly in corpus size; ``max_bucket_size``
    drops degenerate hot buckets before pair expansion (see
    :func:`_bucket_pairs`).

    ``hash_family='md5'`` selects the engine-portable signature family
    (same plan, string minima) so a DuckDB oracle can replay candidate
    generation exactly; xxhash64 stays the production/bench path.
    """
    banded = minhash_banded(
        docs, text, id_col, num_hashes, bands, hash_family, k=k
    )
    return _bucket_pairs(banded, max_bucket_size)


def minhash_banded(
    docs: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    hash_family: str = "xxhash64",
    *,
    k: int = 3,
) -> DataFrame:
    """(_id, band, key) banded MinHash rows — the input both to
    :func:`_bucket_pairs` (candidates) and :func:`oversize_buckets`
    (hot-bucket audit)."""
    if bands < 1 or bands > num_hashes or num_hashes % bands:
        # bands > num_hashes would make rows_per_band 0: every doc's
        # band key becomes the empty slice ("") and ALL docs collapse
        # into one bucket per band — under the default cap that bucket
        # is dropped and LSH silently reports ZERO candidates; without
        # a cap it is the O(n²) explosion.  Non-divisible bands
        # silently discard the trailing hashes.  Both are config
        # errors, not data conditions — fail loudly.
        raise ValueError(
            f"bands={bands} must divide num_hashes={num_hashes} "
            "(1 <= bands <= num_hashes)"
        )
    rows_per_band = num_hashes // bands
    # Parquet splits by bytes, not CPU cost: a small file of long texts
    # arrives as ONE partition, serializing the md5-heavy signature
    # stage.  Spread rows across the cluster before hashing, and put an
    # exchange AFTER the signature so the 16-hash computation happens
    # exactly once per doc — without the barrier, the per-band explode
    # downstream would re-evaluate the whole signature expression 4×.
    # The pre-shingle exchange is UNCONDITIONAL by measurement: a
    # round-10 attempt to make it a spread_for_compute no-op (skip when
    # the scan already has >= slots partitions) measured dedup
    # incremental 2× slower at ×10 solo min-of-3 (10.0 s vs 4.9 s) —
    # the balanced round-robin barrier is load-bearing for the
    # multi-reference signature consumers, and a .rdd partition probe
    # on a derived input eagerly materializes AQE query stages.
    n_parts = docs.sparkSession.sparkContext.defaultParallelism
    sig = (
        with_shingles(
            docs.select(F.col(id_col).alias("_id"), text).repartition(n_parts),
            text,
            k=k,
        )
        .withColumn(
            "_sig", minhash_signature(F.col("_shingles"), num_hashes, hash_family)
        )
        .select("_id", "_sig")
        .repartition(n_parts, "_id")  # materialization barrier
    )
    return (
        sig.select(
            "_id",
            "_sig",
            F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band"),
        )
        .select(
            "_id",
            "band",
            F.array_join(
                F.slice(
                    F.col("_sig"), F.col("band") * rows_per_band + 1, F.lit(rows_per_band)
                ),
                "|",
            ).alias("key"),
        )
    )


def banded_candidate_pairs(
    banded: DataFrame, max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE
) -> DataFrame:
    """Candidate pairs from an already-materialized banded-signature
    frame (``minhash_banded`` output, possibly persisted to parquet —
    the compute-signatures-once / reuse-everywhere production pattern).
    Same derivation as the in-plan path (:func:`_bucket_pairs`)."""
    return _bucket_pairs(banded, max_bucket_size)


def oversize_buckets(
    banded: DataFrame, max_bucket_size: int = DEFAULT_MAX_BUCKET_SIZE
) -> DataFrame:
    """Audit side-output: (band, key, bucket_size) for buckets the cap
    drops.  Count-only groupBy (map-side partial aggregation, no
    collect_list), so auditing a pathological corpus is itself cheap."""
    return (
        banded.groupBy("band", "key")
        .agg(F.count(F.lit(1)).alias("bucket_size"))
        .filter(F.col("bucket_size") > max_bucket_size)
    )


def _bucket_pairs(
    banded: DataFrame, max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE
) -> DataFrame:
    """(id, band, key) rows → distinct candidate (id_a < id_b) pairs.

    Bucket-groupBy instead of a self-join: one shuffle on the band
    key, upstream projections computed ONCE (a self-join would evaluate
    the whole hashing pipeline per side), pairs enumerated inside each
    bucket (bucket size ≈ duplicate-cluster size, so the O(b²)
    expansion is bounded by real duplication, not corpus size).

    ``max_bucket_size`` guards the degenerate case where that
    assumption fails (hot buckets): buckets above the cap are dropped
    BEFORE pair expansion — use :func:`oversize_buckets` on the same
    banded input to count/log what was dropped.  ``None`` disables the
    cap (oracle-exactness mode for tiny corpora)."""
    buckets = (
        banded.groupBy("band", "key")
        .agg(F.array_sort(F.collect_list("_id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    if max_bucket_size is not None:
        buckets = buckets.filter(F.size("ids") <= max_bucket_size)
    n = F.size(F.col("ids"))
    pair_lists = F.flatten(
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.transform(
                F.slice(F.col("ids"), i + 1, n - i),
                lambda j: F.struct(
                    F.element_at(F.col("ids"), i).alias("id_a"), j.alias("id_b")
                ),
            ),
        )
    )
    return (
        explode_computed(buckets, pair_lists, "p", keep=[])
        .select(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .distinct()
    )


def _attach_pair_shingles(
    docs: DataFrame,
    pairs: DataFrame,
    text: str,
    id_col: str,
    k: int,
    restrict_to_candidates: bool,
) -> DataFrame:
    """Shared pair-measure scaffolding for :func:`jaccard_pairs` and
    :func:`containment_pairs`: shingle the corpus ONCE behind one
    id-keyed exchange that BOTH pair-side joins reuse, attach
    ``sh_a``/``sh_b`` to each candidate pair, return the joined frame.

    merge hints: the pairs side is OUTPUT-sized (dup-family growth
    makes it quadratic in replication factor) and the shingle side is
    corpus-sized — neither may ever be broadcast.  Without the hint,
    AQE's runtime broadcast conversion can pick one up on a
    mis-estimate and collect ~1 GiB of rows to the driver (observed at
    ×100 on the embedding twin: maxResultSize abort).

    ``restrict_to_candidates`` carries the contract documented on both
    callers: only enable against a MATERIALIZED pair frame."""
    n_parts = docs.sparkSession.sparkContext.defaultParallelism
    base = docs.select(F.col(id_col).alias("_id"), text)
    if restrict_to_candidates:
        cand_ids = (
            pairs.select(F.col("id_a").alias("_id"))
            .unionByName(pairs.select(F.col("id_b").alias("_id")))
            .distinct()
        )
        base = base.join(cand_ids, "_id", "leftsemi")
    # unconditional pre-shingle spread (see minhash_banded's note: the
    # balanced barrier is measured load-bearing; a conditional .rdd
    # probe regressed ×10 solo benches)
    sh = (
        with_shingles(base.repartition(n_parts), text, k=k)
        .withColumnRenamed("_shingles", "_sh")
        .select("_id", "_sh")
        .repartition(n_parts, "_id")
    )
    return (
        pairs.join(
            sh.withColumnRenamed("_id", "id_a")
            .withColumnRenamed("_sh", "sh_a")
            .hint("merge"),
            "id_a",
        )
        .join(
            sh.withColumnRenamed("_id", "id_b")
            .withColumnRenamed("_sh", "sh_b")
            .hint("merge"),
            "id_b",
        )
    )


def jaccard_pairs(
    docs: DataFrame,
    pairs: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.0,
    restrict_to_candidates: bool = False,
) -> DataFrame:
    """Exact k-shingle Jaccard for candidate pairs; keeps pairs with
    jaccard > threshold. Two broadcast-or-shuffle hash joins to attach
    shingle sets, then a codegen'd set intersection per pair.

    ``restrict_to_candidates=True`` semi-joins ``docs`` to the pair ids
    before shingling, so only candidate docs (O(duplicate clusters), a
    vanishing fraction of a 100 TB corpus) pay the shingling
    projection.  Enable it ONLY when ``pairs`` is materialized
    (persisted / checkpointed / read back from storage): with a lazy
    candidate plan the extra reference re-runs the whole candidate
    generator — measured 2-3× slower than just shingling the corpus.
    The default keeps one-pass lazy composition correct and fast.
    """
    joined = _attach_pair_shingles(
        docs, pairs, text, id_col, k, restrict_to_candidates
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = (F.size("sh_a") + F.size("sh_b")).cast("double") - inter
    return (
        joined.withColumn("jaccard", F.round(inter / union, 6))
        .filter(F.col("jaccard") > threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _live_bucket_members(
    banded: DataFrame, max_bucket_size: int | None
) -> DataFrame:
    """Restrict (band, key, _id) membership rows to LIVE buckets —
    ``2 <= size <= max_bucket_size`` — BEFORE any payload column
    (shingle set, vector) is attached.

    This is the semi-join pushdown that makes the bucketed verifies
    survive replicate-heavy corpora: the verify drops singleton and
    over-cap buckets anyway, so shipping their members' payloads is
    pure waste — and on a ×3000 replicated corpus it is ~ALL of the
    traffic (every duplicate family exceeds the cap, and the shingle
    shuffle alone exceeded this host's 60 GB scratch computing an
    EMPTY result).  Sizes come from the id-only banded frame (one
    cheap exchange); the join back is keyed on the same (band, key),
    and AQE broadcasts the live-bucket list when it is small — at
    pathological scales that means the payload never crosses the wire
    at all.  Emission semantics are unchanged: the verify's own
    size/cap guard stays as defense in depth."""
    sizes = banded.groupBy("band", "key").agg(
        F.count(F.lit(1)).alias("_bsz")
    )
    cond = F.col("_bsz") >= 2
    if max_bucket_size is not None:
        cond = cond & (F.col("_bsz") <= max_bucket_size)
    return banded.join(sizes.filter(cond).select("band", "key"), ["band", "key"])


def bucketed_jaccard_pairs(
    docs: DataFrame,
    banded: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.0,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
) -> DataFrame:
    """MinHash-LSH verify WITHOUT materializing candidate pairs — the
    shingle twin of :func:`_bucket_verify_vectorized`: shingle sets
    ride into the (band, key) buckets and each bucket computes its
    within-bucket exact Jaccards with Python set intersections,
    emitting only pairs above ``threshold``.

    Why (measured at ×100, 500k docs): the candidate-join shape ran
    27.3M pairs through a distinct and two shingle-carrying sort-merge
    joins, then evaluated an interpreted ``array_intersect`` per pair
    — 75 of the path's 121 s.  Here only LIVE-bucket members cross
    the wire (≤ bands×n rows, and zero on corpora where the cap kills
    every bucket — see :func:`_live_bucket_members`) and per-pair set
    math is C-speed (``len(sa & sb)``); the bucket cap bounds every
    O(b²) expansion.

    Pair semantics mirror ``banded_candidate_pairs`` + ``jaccard_pairs``
    exactly (engine-equivalence pytest): id_a < id_b; oversize buckets
    dropped before expansion; cross-band duplicates collapsed by a
    final distinct (identical jaccard floats across bands);
    ``round(inter/union, 6)`` HALF_UP with a STRICT ``> threshold``
    filter; rows with NULL shingles never pair (the join engine's
    NULL-jaccard rows are filter-dropped).
    """
    import pandas as pd

    cap = max_bucket_size
    # id type travels from the input: the join engine is id-type
    # agnostic (Column < orders strings lexicographically), so the
    # bucketed engine must be too — a UUID-keyed corpus that passes at
    # oracle scale on the join engine must not crash (or re-orient
    # pairs) when the auto dispatch flips it here at scale.  Values
    # are kept as their native pandas objects (no int() coercion);
    # Python's sort over one concrete id type matches the Column sort.
    id_dt = banded.schema["_id"].dataType.simpleString()
    # live-bucket pushdown: restrict membership FIRST (id-only rows),
    # then compute+ship shingles only for docs that sit in at least
    # one live bucket — see _live_bucket_members.
    banded_live = _live_bucket_members(banded, cap)
    member_ids = banded_live.select("_id").distinct()
    n_parts = docs.sparkSession.sparkContext.defaultParallelism
    sh = (
        with_shingles(
            docs.select(F.col(id_col).alias("_id"), text)
            .join(member_ids, "_id")
            .repartition(n_parts),
            text,
            k=k,
        )
        .withColumnRenamed("_shingles", "_sh")
        .select("_id", "_sh")
    )
    bucketed = banded_live.join(sh, "_id")

    def _empty():
        return pd.DataFrame(
            {
                "id_a": pd.Series([], dtype="object"),
                "id_b": pd.Series([], dtype="object"),
                "jaccard": pd.Series([], dtype="float64"),
            }
        )

    def _verify(pdf: "pd.DataFrame") -> "pd.DataFrame":
        b = len(pdf)
        if b < 2 or (cap is not None and b > cap):
            return _empty()
        rows = sorted(
            (
                (i, set(s))
                for i, s in zip(pdf["_id"], pdf["_sh"])
                if s is not None
            ),
            key=lambda t: t[0],
        )
        out_a, out_b, out_j = [], [], []
        for x in range(len(rows)):
            ia, sa = rows[x]
            la = len(sa)
            for y in range(x + 1, len(rows)):
                ib, sb = rows[y]
                inter = len(sa & sb)
                ja = inter / (la + len(sb) - inter)
                ja = math.floor(ja * 1e6 + 0.5) / 1e6
                if ja > threshold:
                    out_a.append(ia)
                    out_b.append(ib)
                    out_j.append(ja)
        return pd.DataFrame(
            {
                "id_a": pd.Series(out_a, dtype="object"),
                "id_b": pd.Series(out_b, dtype="object"),
                "jaccard": pd.Series(out_j, dtype="float64"),
            }
        )

    return (
        bucketed.groupBy("band", "key")
        .applyInPandas(
            _verify, schema=f"id_a {id_dt}, id_b {id_dt}, jaccard double"
        )
        .distinct()
    )


def _simhash_bit(hashes: Column, j: int) -> Column:
    """Bit j of the 16-bit SimHash over a per-word md5 array: each
    word contributes +1 when hex digit j's high bit is set (digit in
    8..f), −1 otherwise; the bit is 1<<j when the sum is non-negative.
    ONE definition shared by :func:`simhash16` (inline-expression
    form) and :func:`simhash16_df` (staged form) — the two are
    documented as producing identical signatures, so the sign
    convention must never drift between them."""
    contrib = F.transform(
        hashes,
        lambda h: F.when(
            F.substring(h, j + 1, 1).isin(
                "8", "9", "a", "b", "c", "d", "e", "f"
            ),
            1,
        ).otherwise(-1),
    )
    total = F.aggregate(contrib, F.lit(0), lambda acc, x: acc + x)
    return F.when(total >= 0, F.lit(1 << j)).otherwise(F.lit(0))


def simhash16(text_col: Column) -> Column:
    """16-bit SimHash over words: bit j is the sign of the sum over
    words of ±1 according to hex digit j of md5(word).  Projection
    only; identical in any engine with md5."""
    # NOTE: as an inline expression the hash array below is re-inlined
    # into each of the 16 bit computations; use simhash16_df for the
    # staged (hashes-materialized) pipeline form.
    words = F.array_distinct(F.split(normalize_text(text_col), " "))
    hashes = F.transform(words, lambda w: F.md5(w))
    out = _simhash_bit(hashes, 0)
    for j in range(1, 16):
        out = out + _simhash_bit(hashes, j)
    return out


def simhash16_df(
    docs: DataFrame, text: str = "text", id_col: str = "doc_id",
    out: str = "simhash",
) -> DataFrame:
    """Staged SimHash: per-word md5 array materialized once, then the 16
    bit sums read it by attribute reference — one split+hash pass per
    row instead of 32."""
    hashed = docs.select(
        id_col,
        F.transform(
            F.array_distinct(F.split(normalize_text(F.col(text)), " ")),
            lambda w: F.md5(w),
        ).alias("_hs"),
    )

    sig = _simhash_bit(F.col("_hs"), 0)
    for j in range(1, 16):
        sig = sig + _simhash_bit(F.col("_hs"), j)
    return hashed.select(id_col, sig.alias(out))


def embedding_cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<float|double> columns — pure
    zip_with/aggregate, codegen'd."""
    da = F.transform(a, lambda x: x.cast("double"))
    db = F.transform(b, lambda x: x.cast("double"))
    dot = F.aggregate(F.zip_with(da, db, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x)
    na = F.sqrt(F.aggregate(F.transform(da, lambda x: x * x), F.lit(0.0), lambda s, x: s + x))
    nb = F.sqrt(F.aggregate(F.transform(db, lambda x: x * x), F.lit(0.0), lambda s, x: s + x))
    return dot / (na * nb)


def _double_sql(x) -> str:
    """One double as SQL text, round-trip exact: repr() emits the
    shortest decimal that uniquely identifies the IEEE754 value and
    Spark's parser rounds correctly, so the parsed literal is
    bit-identical to ``F.lit(float(x))`` (the operators/attribution.py
    `{v!r}D` idiom, extended with the non-finite spellings the lexer
    cannot take a D-suffix on).  Shared by the literal-matrix
    compilers here and in similarity.py — building such matrices with
    Column operators costs one py4j round-trip per element (measured
    ~12k round-trips / ~1.7 s per ivf_pq plan build, round-13 opt)."""
    if x is None:
        return "CAST(NULL AS DOUBLE)"
    x = float(x)
    if math.isnan(x):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(x):
        return f"CAST('{'-' if x < 0 else ''}Infinity' AS DOUBLE)"
    return f"{x!r}D"


def hyperplane_weights(
    dim: int, bands: int, bits_per_band: int, seed: int
) -> list[list[float]]:
    """Deterministic pseudo-random ±1 hyperplane normals (one per
    signature bit), reproducible from the seed — generated driver-side
    so both the Spark plan and a SQL oracle can embed them as
    literals."""
    import random

    rng = random.Random(seed)
    return [
        [float(rng.choice((-1.0, 1.0))) for _ in range(dim)]
        for _ in range(bands * bits_per_band)
    ]


#: embedding_near_dup_pairs switches to the bucketed
#: Arrow/numpy verify once rows × dim exceeds this work budget —
#: calibrated to the round-8 measured flip (50k rows at dim 64 =
#: 3.2e6), expressed in rows×dim so a wide-embedding corpus flips
#: proportionally earlier (the interpreted signature/verify cost is
#: per-element, not per-row).  Same oracle-gate discipline as
#: semantic_dedup's _SEM_VECTORIZE_MIN_ROWS: every DuckDB-checked
#: scale (sf0.01: 500, sf0.1: 2k, ×10: 20k — all dim 64) stays on the
#: bit-exact join engine.  The size source is hint → plan stats →
#: bounded probe (costmodel.work_exceeds), never an unbounded count.
_EMB_JOIN_MAX_WORK = 3.2e6


def _bucket_verify_vectorized(
    bucketed: DataFrame, threshold: float, max_bucket_size: int | None
) -> DataFrame:
    """Verify LSH buckets WITHOUT materializing candidate pairs: each
    (band, key) group computes its within-bucket cosines as one numpy
    matmul and emits only the threshold-passing pairs.

    Why this beats the candidate-join shape at scale (measured at
    ×100: 185.7 → see BASELINE round-7 note): the join engine runs
    144M candidate rows through a distinct AND two sort-merge joins
    carrying 64-dim double arrays, then evaluates one INTERPRETED
    higher-order dot per pair; here only live-bucket members carry
    the vector column (≤ ×bands corpus rows, not 144M pair rows —
    and none at all when the cap drops every bucket) and the
    per-pair math is BLAS.

    Pair semantics mirror ``_bucket_pairs`` + the join verify exactly
    (pinned by the engine-equivalence pytest):
    - buckets above ``max_bucket_size`` emit nothing (dropped BEFORE
      expansion, same as the cap filter);
    - pairs are (id_a < id_b), deduplicated across bands by a final
      distinct — cosine values are identical across bands (same
      floats, same BLAS), so the 3-column distinct collapses them;
    - cosine is HALF_UP-rounded at 4 decimals, −0.0 normalized;
    - NaN cosines (NaN-component or zero-norm vectors) are EMITTED
      with cosine NaN — Spark's nanSafeCompare makes
      ``round(NaN,4) >= threshold`` TRUE in the join engine, and
      Spark's distinct treats NaN as equal to itself;
    - NULL-element vectors are INERT: the join engine's cosine over
      them is NULL and ``round(NULL,4) >= threshold`` filter-drops the
      pair.  The Arrow transfer rewrites NULL array elements to NaN —
      indistinguishable from true-NaN components in the pandas frame —
      so the caller pre-computes a ``_deg`` flag on the ORIGINAL
      Spark-side vector (the semantic_dedup discipline) and flagged
      rows are excluded from pairing here AFTER the cap check (bucket
      size, and therefore which buckets the cap kills, counts them —
      exactly like the join engine, whose cap filter sees every
      member).
    """
    import numpy as np
    import pandas as pd

    cap = max_bucket_size if max_bucket_size is not None else None
    # id type travels from the input (same contract as the Jaccard
    # bucketed verify): the join engine orders ids with Column <, so
    # string-keyed corpora must verify here too, not crash on an
    # int64 coercion when the auto dispatch flips engines at scale.
    id_dt = bucketed.schema["_id"].dataType.simpleString()

    def _empty():
        return pd.DataFrame(
            {
                "id_a": pd.Series([], dtype="object"),
                "id_b": pd.Series([], dtype="object"),
                "cosine": pd.Series([], dtype="float64"),
            }
        )

    def _verify(pdf: "pd.DataFrame") -> "pd.DataFrame":
        b = len(pdf)
        if b < 2 or (cap is not None and b > cap):
            return _empty()
        if "_deg" in pdf.columns:
            # NULL-element vectors: counted above (cap parity with the
            # join engine) but never paired — their join-engine cosine
            # is NULL, which the >= threshold filter drops.
            pdf = pdf[~pdf["_deg"].astype(bool)]
            b = len(pdf)
            if b < 2:
                return _empty()
        ids = pdf["_id"].to_numpy()
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        vecs = pdf["_vd"].to_numpy()[order]
        V = np.stack([np.asarray(v, dtype="float64") for v in vecs])
        n = np.sqrt((V * V).sum(axis=1))
        with np.errstate(divide="ignore", invalid="ignore"):
            C = (V @ V.T) / (n[:, None] * n[None, :])
        rc = np.sign(C) * np.floor(np.abs(C) * 1e4 + 0.5) / 1e4 + 0.0
        hit = (rc >= threshold) | np.isnan(C)
        iu, ju = np.triu_indices(b, k=1)
        m = hit[iu, ju]
        return pd.DataFrame(
            {
                "id_a": ids[iu[m]],
                "id_b": ids[ju[m]],
                "cosine": rc[iu[m], ju[m]],
            }
        )

    return (
        bucketed.groupBy("band", "key")
        .applyInPandas(
            _verify, schema=f"id_a {id_dt}, id_b {id_dt}, cosine double"
        )
        # the Arrow return path renders pandas NaN as NULL; _verify
        # never emits a true null, so every NULL here IS a NaN cosine
        # — restore it to match the join engine's NaN output.
        .withColumn("cosine", F.coalesce(F.col("cosine"), F.lit(float("nan"))))
        .distinct()
    )


def embedding_near_dup_pairs(
    emb: DataFrame,
    vec: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.9,
    dim: int = 64,
    bands: int = 4,
    bits_per_band: int = 8,
    seed: int = 7,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
    corpus_rows: int | None = None,
) -> DataFrame:
    """Embedding near-dup: banded random-hyperplane LSH candidates +
    exact cosine verification.

    Scale design (the round-1 version used 2^6 = 64 FIXED sign buckets
    of the leading dimensions with an all-pairs join inside each —
    O(n²/64), quadratic in corpus size):
    - each of `bands` bands hashes the vector to `bits_per_band` sign
      bits of seeded pseudo-random hyperplanes → 2^bits buckets per
      band, and bucket occupancy ~ n/2^bits shrinks as bits grow (the
      knob scales with corpus size; 4×8 default ⇒ ~94% recall at
      cosine 0.9, ~99.9% at 0.99);
    - candidates come from the same bucket-groupBy shape as MinHash-LSH
      (`_bucket_pairs`): ONE shuffle on (band, key), pair expansion
      bounded by real near-dup cluster sizes, no self-join;
    - exact cosine then verifies candidates via two hash joins on the
      same id partitioning (exchange reused).

    `dim` must EQUAL the embedding length exactly (weights are
    plan-time literals so the signature stays a pure projection).  A
    mismatch would null-pad the zip_with dots, rendering every bit '0'
    and collapsing all rows into one bucket per band — O(n²) candidates
    with no error — so the plan fails fast (raise_error) on the first
    row whose vector length differs from `dim`.

    Two verify engines, chosen by size: up to the rows×dim work
    budget ``_EMB_JOIN_MAX_WORK`` the candidate-pair + join-verify
    shape (bit-exact vs the DuckDB oracle); past it buckets are
    verified directly with numpy matmuls
    (:func:`_bucket_verify_vectorized` — no 144M-pair distinct, no
    vector-carrying pair joins).  The size source is the
    ``corpus_rows`` hint → plan stats → bounded probe
    (:func:`.costmodel.work_exceeds` — no unbounded count); every
    oracle scale stays on the join engine.
    """
    from .costmodel import work_exceeds

    vectorized = work_exceeds(
        emb, _EMB_JOIN_MAX_WORK, dim, size_hint=corpus_rows
    )
    planes = hyperplane_weights(dim, bands, bits_per_band, seed)
    n_parts = emb.sparkSession.sparkContext.defaultParallelism
    base = emb.select(
        F.col(id_col).alias("_id"),
        F.when(F.size(F.col(vec)) == dim, F.col(vec))
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "embedding_near_dup_pairs: vector length "
                    ),
                    F.size(F.col(vec)).cast("string"),
                    F.lit(f" != dim={dim} (id="),
                    F.col(id_col).cast("string"),
                    F.lit(")"),
                )
            )
        )
        .alias("_v"),
    ).repartition(n_parts, "_id")
    # All bands*bits dot products in ONE transform over a literal plane
    # matrix (single expression instance; 32 separate fold expressions
    # cost ~2× in interpreted higher-order-function overhead).  Each
    # dot is still the left fold zip_with product — bitwise identical
    # to the oracle's list_dot_product.
    # (Round-6 A/B note: a flat codegen'd 0.0+v[k]·w[k]+… chain per
    # plane — same order, bitwise identical — measured 3× SLOWER at
    # ×10 (8.3 s → 22-30 s): 2048-term expression trees blow past the
    # codegen splitter and fall back to per-term interpreted eval,
    # costing more than the HOF loop they replace.  Keep the fold.)
    # one F.expr parse of the whole plane matrix — the Column-operator
    # form paid bands·bits·dim py4j round-trips of plan-build time
    planes_lit = F.expr(
        "array("
        + ",".join(
            "array(" + ",".join(_double_sql(w) for w in p) + ")"
            for p in planes
        )
        + ")"
    )
    # Stage the double-cast vector as a named column: inlined, the
    # interpreted transform would re-evaluate once per PLANE (32× per
    # row) inside the dots lambda below.
    base = base.withColumn(
        "_vd", F.transform(F.col("_v"), lambda x: x.cast("double"))
    )
    dots = F.transform(
        planes_lit,
        lambda p: F.aggregate(
            F.zip_with(F.col("_vd"), p, lambda x, y: x * y),
            F.lit(0.0),
            lambda s, x: s + x,
        ),
    )
    bits = F.transform(
        dots, lambda d: F.when(d >= 0, F.lit("1")).otherwise(F.lit("0"))
    )
    key_cols = [
        F.array_join(
            F.slice(F.col("_bits"), b * bits_per_band + 1, bits_per_band), ""
        ).alias(f"_key{b}")
        for b in range(bands)
    ]
    if vectorized:
        # band membership as ID-ONLY rows first, live-bucket filter
        # (2 <= size <= cap) BEFORE the vector column is attached —
        # the verify drops dead buckets anyway, so their members'
        # vectors must never cross the wire (_live_bucket_members).
        # The vector attach is one _id-keyed join against a fresh
        # (id, vec) scan — live members only, ≤ bands×n rows, and
        # nothing at all on corpora where the cap kills every bucket.
        banded_ids = base.withColumn("_bits", bits).select(
            "_id", *key_cols
        ).select(
            "_id",
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(b).alias("band"), F.col(f"_key{b}").alias("key")
                    )
                    for b in range(bands)
                ])
            ).alias("bk"),
        ).select(
            "_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
        )
        live = _live_bucket_members(banded_ids, max_bucket_size)
        # semi-join the vector scan against the live MEMBER IDS (not
        # against `base`, whose repartition would shuffle the whole
        # vector corpus as an AQE leaf stage even when every bucket is
        # dead): member_ids is runtime-sized, so AQE broadcasts it
        # when small and the fresh (id, vec) scan filters in place —
        # zero vector bytes on the wire for cap-killed corpora.
        member_ids = live.select("_id").distinct()
        # _deg MUST be computed Spark-side, pre-Arrow: the transfer
        # into the pandas verify rewrites NULL array elements to NaN,
        # and NULL-element vectors are inert in the join engine while
        # true-NaN components are poisonous (nanSafeCompare emits
        # them) — see _bucket_verify_vectorized's parity contract.
        vecs = emb.select(
            F.col(id_col).alias("_id"),
            F.transform(F.col(vec), lambda x: x.cast("double")).alias("_vd"),
            F.coalesce(
                F.exists(F.col(vec), lambda x: x.isNull()), F.lit(False)
            ).alias("_deg"),
        ).join(member_ids, "_id")
        bucketed = live.join(vecs, "_id")
        return _bucket_verify_vectorized(bucketed, threshold, max_bucket_size)

    # signatures once per row (projection), then unpivot to (id, band, key)
    sigs = base.withColumn("_bits", bits).select("_id", *key_cols)
    banded = sigs.select(
        "_id",
        F.explode(
            F.array(*[
                F.struct(F.lit(b).alias("band"), F.col(f"_key{b}").alias("key"))
                for b in range(bands)
            ])
        ).alias("bk"),
    ).select("_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    pairs = _bucket_pairs(banded, max_bucket_size)
    # Carry the staged double array AND its norm through the verify
    # joins so the per-pair cosine is one zip_with dot and a divide —
    # embedding_cosine inline would re-cast and re-norm both sides per
    # pair (same float operation tree either way; values identical).
    norm = F.sqrt(
        F.aggregate(
            F.transform(F.col("_vd"), lambda x: x * x),
            F.lit(0.0),
            lambda s, x: s + x,
        )
    )
    sides = base.withColumn("_n", norm)
    va = sides.select(
        F.col("_id").alias("id_a"), F.col("_vd").alias("_va"), F.col("_n").alias("_na")
    )
    vb = sides.select(
        F.col("_id").alias("id_b"), F.col("_vd").alias("_vb"), F.col("_n").alias("_nb")
    )
    dot_ab = F.aggregate(
        F.zip_with(F.col("_va"), F.col("_vb"), lambda x, y: x * y),
        F.lit(0.0),
        lambda s, x: s + x,
    )
    cos = dot_ab / (F.col("_na") * F.col("_nb"))
    # Verify join strategy (round-13, guide §3 "pick deliberately"):
    # the pairs side is output-sized and the vector sides are
    # corpus-sized, but the gate above just proved the corpus fits the
    # work budget — each vector side is ≤ _EMB_JOIN_MAX_WORK×8 bytes
    # ≈ 26 MB — so a deliberate F.broadcast turns both verifies into
    # BroadcastHashJoins with no corpus sort (measured exec ×0.42 at
    # sf0.1, identical rows).  Never leave the choice to AQE: at ×100
    # its runtime broadcast conversion picked a corpus-sized side on a
    # size mis-estimate and aborted at maxResultSize.
    return (
        pairs.join(F.broadcast(va), "id_a")
        .join(F.broadcast(vb), "id_b")
        .withColumn("cosine", F.round(cos, 4) + F.lit(0.0))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def incremental_lsh_pairs(
    corpus: DataFrame | None,
    new_docs: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    hash_family: str = "xxhash64",
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
    corpus_banded: DataFrame | None = None,
    *,
    k: int = 3,
) -> DataFrame:
    """Near-dup candidates between a NEW batch and an EXISTING corpus
    — the recurring ingest shape: dedup the day's crawl against 100 TB
    of history WITHOUT re-pairing the history against itself.

    Returns distinct ``(new_id, corpus_id)``; ids must be disjoint
    across the two frames.  Verify with :func:`jaccard_pairs` over
    ``corpus.unionByName(new_docs)``.

    Scale design: the corpus side is scanned once into banded
    signature rows; the new batch's banded rows are tiny and
    **broadcast**, so candidate generation adds ZERO corpus shuffle —
    the probe rides the corpus scan.  At real scale you don't
    re-minhash history per batch either: persist
    :func:`minhash_banded`'s output as a signature store (a compact
    (id, band, key) table, date-partitioned) and pass it as
    ``corpus_banded``; then each increment reads signatures, not raw
    text, and appends the new batch's own signatures for the next run.

    ``max_bucket_size`` drops corpus-hot band keys (boilerplate
    buckets) via a partial-agg count + broadcast anti-join — the count
    pass is cheap against a signature store; against raw text it
    re-derives signatures, one more reason to persist them.
    """
    if corpus is None and corpus_banded is None:
        raise ValueError(
            "incremental_lsh_pairs needs corpus (raw text) or "
            "corpus_banded (persisted signature store)"
        )
    cb = (
        corpus_banded
        if corpus_banded is not None
        else minhash_banded(
            corpus, text, id_col, num_hashes, bands, hash_family, k=k
        )
    )
    nb = minhash_banded(
        new_docs, text, id_col, num_hashes, bands, hash_family, k=k
    )
    if max_bucket_size is not None:
        hot = (
            cb.groupBy("band", "key")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > max_bucket_size)
            .select("band", "key")
        )
        cb = cb.join(F.broadcast(hot), ["band", "key"], "left_anti")
    return (
        cb.withColumnRenamed("_id", "corpus_id")
        .join(
            F.broadcast(nb.withColumnRenamed("_id", "new_id")),
            ["band", "key"],
        )
        .select("new_id", "corpus_id")
        .distinct()
    )


def containment_pairs(
    docs: DataFrame,
    pairs: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    restrict_to_candidates: bool = False,
) -> DataFrame:
    """Asymmetric near-dup: k-shingle CONTAINMENT for candidate pairs —
    ``|A∩B| / |A|`` and ``|A∩B| / |B|`` — the measure Jaccard misses
    when a short document is wholly embedded in a long one (quote
    farms, boilerplate wrappers, page-in-page crawls): Jaccard
    divides by the UNION, so a 50-token doc inside a 5000-token doc
    scores ~0.01 while its containment in the big doc is 1.0.
    Broder's resemblance/containment pair (the same shingle algebra
    MinHash estimates) — here computed exactly on the bounded
    candidate set.

    Plan shape is jaccard_pairs': shingle once behind one id-keyed
    exchange both pair joins reuse, then a codegen'd intersection per
    pair — no new shuffle class.  ``restrict_to_candidates`` carries
    the same contract as :func:`jaccard_pairs`: only enable against a
    MATERIALIZED pair frame (a lazy candidate plan would re-run its
    whole generator through the extra reference).
    """
    joined = _attach_pair_shingles(
        docs, pairs, text, id_col, k, restrict_to_candidates
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    return joined.select(
        "id_a",
        "id_b",
        F.round(inter / F.size("sh_a").cast("double"), 6).alias("contain_a"),
        F.round(inter / F.size("sh_b").cast("double"), 6).alias("contain_b"),
    )


def bucket_cap_stats(
    banded: DataFrame, max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE
) -> DataFrame:
    """One-row audit of what the bucket cap COSTS on a banded frame:

    ``(n_buckets, n_buckets_live, n_buckets_dropped, n_members_dropped,
    max_bucket_size_seen, cap)`` — live = ``2 <= size <= cap`` (the
    buckets the verifies expand), dropped = ``size > cap`` (the
    truncation :data:`DEFAULT_MAX_BUCKET_SIZE` applies silently by
    design).  A 100 TB operator reads this row next to the pair output
    to see whether the cap dropped one pathological boilerplate bucket
    or an actual mega-family (``n_members_dropped`` is the upper bound
    on docs whose within-bucket pairs were skipped, per band).

    Cost: one count-only partial-agg groupBy over (band, key) id rows
    — the same shape as :func:`oversize_buckets`, cheap against a
    persisted signature store and independent of payload columns.
    ``max_bucket_size=None`` reports zero dropped (no cap)."""
    sizes = banded.groupBy("band", "key").agg(F.count(F.lit(1)).alias("n"))
    over = (
        (F.col("n") > max_bucket_size)
        if max_bucket_size is not None
        else F.lit(False)
    )
    # coalesce: sum/max over ZERO rows (empty corpus, or a cap audit
    # on an empty banded frame) return NULL while count returns 0 — a
    # NULL here makes the one-row report ambiguous; every statistic of
    # an empty frame is genuinely 0.
    return sizes.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.coalesce(
            F.sum(((F.col("n") >= 2) & ~over).cast("long")), F.lit(0)
        ).alias("n_buckets_live"),
        F.coalesce(F.sum(over.cast("long")), F.lit(0)).alias(
            "n_buckets_dropped"
        ),
        F.coalesce(
            F.sum(F.when(over, F.col("n")).otherwise(0)).cast("long"),
            F.lit(0),
        ).alias("n_members_dropped"),
        F.coalesce(F.max("n"), F.lit(0)).alias("max_bucket_size_seen"),
        F.lit(max_bucket_size).cast("long").alias("cap"),
    )
