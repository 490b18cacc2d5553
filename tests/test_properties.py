"""Property-based tests (hypothesis) for the dual-engine invariants.

The crafted-example equivalence tests in test_datapipe.py pin known
edge cases; these properties fuzz the same invariants over RANDOM
inputs — the class of bug they target is "the two engines agree on
every case we thought of, and disagree on one we didn't".  Each
hypothesis example batches all its rows into ONE Spark job (a
per-row job would be ~1000× slower), examples are derandomized so the
suite is reproducible, and example counts are kept small because each
example is a full Spark action.

Targets:
- the pure-Python banded-signature twin (`datapipe/lsh_artifact.py`,
  the minhash oracle's compute-if-missing guard) vs the Spark
  `minhash_banded` plan — normalize → shingle → seeded xxhash64
  chain → banded keys, bit-identical on arbitrary text;
- `bucketed_jaccard_pairs` (C-set verify, the ≥100k-doc fast path) vs
  `banded_candidate_pairs + jaccard_pairs` (the oracle join engine);
- `embedding_near_dup_pairs` past its work budget (numpy bucket
  matmul, the ≥50k-row fast path, selected by a `corpus_rows` hint) vs
  the join engine below it;
- `with_dense_ids(group_col=)` vs a per-group Python rank — one
  numbering pass keeps each group's ids dense across range partitions.
"""

import math

import pytest

hyp = pytest.importorskip("hypothesis")
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from dump1090_postgis_spark.datapipe import dedup as dd
from dump1090_postgis_spark.datapipe import lsh_artifact as la
from dump1090_postgis_spark.datapipe.costmodel import work_rows_threshold

# Controlled alphabet: ASCII words + multi-byte UTF-8 (2/3-byte
# sequences hit xxh64_bytes' 4-byte and tail lanes) + the Java-\s
# whitespace run the normalizer collapses.  Deliberately excludes
# locale-sensitive case-mapping landmines (İ, ß-variants) — casefold
# parity on those is not the twin's contract; byte-level hash/shingle
# structure is.
_CHARS = st.sampled_from(list("abcdefgh XYZ012\t\n\r") + ["é", "ö", "中", "日"])
_TEXT = st.text(alphabet=_CHARS, min_size=0, max_size=120)

_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@settings(**_SETTINGS)
@given(texts=st.lists(_TEXT, min_size=1, max_size=12))
def test_python_banded_twin_matches_spark_on_random_text(spark, texts):
    # Long strings (>=32 utf-8 bytes) exercise the xxHash64 v1..v4
    # block loop; guarantee at least one per example.
    texts = texts + ["the quick brown fox jumps over the lazy dog once more"]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    spark_rows = {
        (r._id, r.band, r.key)
        for r in dd.minhash_banded(docs, hash_family="xxhash64").collect()
    }
    py_rows = set()
    for i, t in enumerate(texts):
        py_rows.update(la.banded_rows(i, t))
    assert py_rows == spark_rows


# Small word pool so random docs overlap: exact dups, near-dups and
# disjoint docs all arise without hand-crafting.
_WORDS = ["alpha", "beta", "gamma", "delta", "eps", "zeta"]
_DOC = st.one_of(
    st.none(),
    st.lists(st.sampled_from(_WORDS), min_size=0, max_size=10).map(" ".join),
)


@settings(**_SETTINGS)
@given(
    docs=st.lists(_DOC, min_size=2, max_size=14),
    cap=st.sampled_from([None, 4]),
    threshold=st.sampled_from([0.0, 0.5]),
)
def test_jaccard_engines_agree_on_random_corpora(spark, docs, cap, threshold):
    df = spark.createDataFrame(
        list(enumerate(docs)), "doc_id long, text string"
    )
    banded = dd.minhash_banded(df, hash_family="xxhash64")
    join_out = {
        (r.id_a, r.id_b, r.jaccard)
        for r in dd.jaccard_pairs(
            df,
            dd.banded_candidate_pairs(banded, max_bucket_size=cap),
            threshold=threshold,
        ).collect()
    }
    bucketed = {
        (r.id_a, r.id_b, r.jaccard)
        for r in dd.bucketed_jaccard_pairs(
            df, banded, threshold=threshold, max_bucket_size=cap
        ).collect()
    }
    assert bucketed == join_out


# Discrete component levels make random vectors collide into LSH
# buckets (and produce exact dups) far more often than gaussians
# would; NaN is a legal level (nanSafeCompare emission is part of the
# contract).  All-zero vectors are kept — both engines must agree on
# 0/0 cosines too.
_LEVEL = st.sampled_from([-1.0, 0.0, 0.5, 1.0, float("nan")])
_VEC = st.lists(_LEVEL, min_size=8, max_size=8)


@settings(**_SETTINGS)
@given(
    vecs=st.lists(_VEC, min_size=2, max_size=14),
    cap=st.sampled_from([None, 4]),
)
def test_embedding_engines_agree_on_random_vectors(spark, vecs, cap):
    df = spark.createDataFrame(
        list(enumerate(vecs)), "vec_id long, embedding array<double>"
    )

    def norm(out):
        return {
            (r.id_a, r.id_b, "nan" if math.isnan(r.cosine) else round(r.cosine, 4))
            for r in out.collect()
        }

    j = norm(
        dd.embedding_near_dup_pairs(
            df, threshold=0.9, dim=8, max_bucket_size=cap
        )
    )
    v = norm(
        dd.embedding_near_dup_pairs(
            df, threshold=0.9, dim=8, max_bucket_size=cap,
            corpus_rows=work_rows_threshold(dd._EMB_JOIN_MAX_WORK, 8),
        )
    )
    assert v == j


# ---------------------------------------------------------------------------
# SBS-1 parser vs a reference-semantics Python twin
# ---------------------------------------------------------------------------
#
# The twin re-implements the DOCUMENTED reference behavior the Spark
# parser claims parity with (adsb_parser.py:176-261 semantics, see
# operators/parse.py module docstring): 22-field gate → regex field
# classes → per-field cast with error→NULL → '-1' booleans →
# space-trimmed callsign.  Inputs are restricted to ASCII field soup
# (the documented Java-(?U)-vs-Python divergences are unicode-only)
# and timestamp candidates are shape-checked to the exact
# 'yyyy/MM/dd HH:mm:ss.SSS' widths before strptime, mirroring Spark's
# strict width parser (strptime alone is laxer: 1-digit months,
# 1-6-digit fractions).

import re as _re
from datetime import datetime

from dump1090_postgis_spark.operators.parse import (
    REFERENCE_LINE_REGEX,
    parse_sbs1_lines,
)

_PY_LINE_RE = _re.compile(REFERENCE_LINE_REGEX.replace("(?U)", ""))
_TS_SHAPE = _re.compile(r"\d{4}/\d{2}/\d{2} \d{2}:\d{2}:\d{2}\.\d{3}$")
_I32 = 2**31


def _twin_int(v):
    try:
        n = int(v)
    except ValueError:
        return None
    return n if -_I32 <= n < _I32 else None  # Spark try_cast int is 32-bit


def _twin_float(v):
    try:
        return float(v)
    except ValueError:
        return None


def _twin_ts(d, t):
    s = f"{d} {t}"
    if not _TS_SHAPE.match(s):
        return None
    try:
        return datetime.strptime(s, "%Y/%m/%d %H:%M:%S.%f")
    except ValueError:
        return None


def _twin_parse(line):
    parts = line.split(",")
    if len(parts) != 22 or not _PY_LINE_RE.match(line):
        return None
    cs = parts[10].strip(" ")  # Spark F.trim strips spaces only
    return (
        _twin_int(parts[1]),
        _twin_int(parts[2]),
        _twin_int(parts[3]),
        parts[4],
        _twin_int(parts[5]),
        _twin_ts(parts[6], parts[7]),
        _twin_ts(parts[8], parts[9]),
        cs or None,
        _twin_int(parts[11]),
        _twin_int(parts[12]),
        _twin_int(parts[13]),
        _twin_float(parts[14]),
        _twin_float(parts[15]),
        _twin_int(parts[16]),
        _twin_int(parts[17]),
        parts[18] == "-1",
        parts[19] == "-1",
        parts[20] == "-1",
        parts[21] == "-1",
    )


# Per-field pools: (class-valid values, tricky values).  Tricky covers
# every rejection mode — class failures (reject the whole line), cast
# failures (NULL the field), range failures (int32 overflow, invalid
# calendar dates).  Class-valid values are weighted 3× so a useful
# fraction of lines survives the regex gate with cast-fail NULLs
# inside (uniform pools made a fully-gated line a ~0.7% event).
_F = {
    "message_type": (["MSG"], ["STA", "SEL", ""]),
    "transmission_type": (["1", "3", "8"], ["12", "x", ""]),
    "session": (["1", "23"], [""]),
    "aircraft": (["7", "10110"], [""]),
    "hexident": (["3C6589", "4008F5", "DEAD"], ["abc", ""]),
    "flight": (["1", "4294967296"], [""]),
    "gen_date": (["2024/01/15", "2024/13/45", "2024/1/15"], ["15-01-2024", ""]),
    "gen_time": (["12:34:56.789", "99:99:99.999", "12:34:56.7", "12.34"], [""]),
    "log_date": (["2024/01/15", "2024/02/30"], [""]),
    "log_time": (["00:00:00.000", "23:59:59.999", "24:00:00.000"], [""]),
    "callsign": (["AFR123  ", "", "AB CD", "  ", "RYR_1X"], []),
    "altitude": (["38000", "-100", "3000000000", "-", ""], ["3.5"]),
    "speed": (["450", "0", ""], ["-2"]),
    "track": (["359", "-1", "--5", ""], []),
    "latitude": (["47.16", "-1.6", "4.7.1", "-.5", ".", "-", ""], []),
    "longitude": (["-1.6078", "0.0", "1-2", ""], []),
    "verticalrate": (["-64", "640", ""], []),
    "squawk": (["7700", "0", ""], []),
    "alert": (["-1", "0", ""], []),
    "emergency": (["-1", "0", "5"], []),
    "spi": (["-1", "0", ""], []),
    "onground": (["-1", "0", "-", ""], []),
}

_LINE = st.tuples(
    *(st.sampled_from(valid * 3 + tricky) for valid, tricky in _F.values())
).map(",".join)
_MUTANT = st.one_of(
    _LINE,
    _LINE.map(lambda s: s + ",0"),  # 23 fields — gate must drop
    _LINE.map(lambda s: s.rsplit(",", 1)[0]),  # 21 fields — gate must drop
    st.text(alphabet=st.sampled_from(list("MSG,0123456789./:-abcZ ")), max_size=60),
)


@settings(**_SETTINGS)
@given(lines=st.lists(_MUTANT, min_size=1, max_size=60))
def test_parser_matches_reference_semantics_twin(spark, lines):
    # One canonical line per example so the value-compare direction is
    # never vacuous (random field soup may legitimately all-reject).
    lines = lines + [
        "MSG,3,1,7,3C6589,42,2024/01/15,12:34:56.789,"
        "2024/01/15,12:34:56.790,AFR123  ,38000,,,47.16,-1.6078,,,0,0,0,-1"
    ]
    df = spark.createDataFrame([(s,) for s in lines], "value string")
    got = sorted(
        (tuple(r) for r in parse_sbs1_lines(df).collect()),
        key=repr,
    )
    want = sorted(
        (t for t in map(_twin_parse, lines) if t is not None),
        key=repr,
    )
    assert got == want


# ---------------------------------------------------------------------------
# Cost-model dispatch boundary (round-10 verdict #5)
# ---------------------------------------------------------------------------


@settings(max_examples=200, deadline=None, derandomize=True)
@given(
    budget=st.integers(1, 10**12),
    units=st.integers(1, 10**6),
    delta=st.integers(-2, 2),
)
def test_work_rows_threshold_boundary_is_exact(budget, units, delta):
    """The pure dispatch rule: deterministic, and for every n around
    the edge, `n >= threshold` ⟺ `n · units > budget` — the classic
    off-by-one place where an engine gate could flip between runs of
    slightly different inputs.  (Integer budgets/units in these ranges
    keep the float floor exact: n·units ≤ budget+units « 2^53.)"""
    from dump1090_postgis_spark.datapipe.costmodel import (
        work_rows_threshold,
    )

    thr = work_rows_threshold(budget, units)
    assert thr == work_rows_threshold(budget, units)  # deterministic
    n = max(0, thr + delta)
    assert (n * units > budget) == (n >= thr), (budget, units, n, thr)


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_auto_dispatch_flip_point_engines_value_match(spark):
    """AT the budget edge (hint = threshold vs threshold−1 on the SAME
    physical data) every engine gate must (a) actually flip —
    plan-marker asserted — and (b) produce identical values, so an
    input that straddles the edge between runs cannot change answers:
    brute-force ANN, embedding-LSH near-dup, IVF corpus assignment,
    the Lloyd reassignment in build_centroids, and SemDeDup's pairwise
    gate."""
    import random

    from dump1090_postgis_spark.datapipe import similarity as sim
    from dump1090_postgis_spark.datapipe.costmodel import (
        work_rows_threshold,
    )

    rnd = random.Random(91)
    dim = 8
    emb = spark.createDataFrame(
        [(i, [rnd.gauss(0, 1) for _ in range(dim)]) for i in range(50)],
        "vec_id long, embedding array<double>",
    ).cache()
    queries = emb.filter("vec_id < 4")

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    # brute force: units = nq·dim
    edge = work_rows_threshold(sim._BF_JOIN_MAX_FLOPS, 4 * dim)
    above = sim.brute_force_topk(emb, queries, k=5, corpus_rows=edge)
    below = sim.brute_force_topk(emb, queries, k=5, corpus_rows=edge - 1)
    assert "MapInPandas" in _plan(above)
    assert "MapInPandas" not in _plan(below)
    assert rows(above) == rows(below)

    # embedding-LSH near-dup: units = dim
    edge = work_rows_threshold(dd._EMB_JOIN_MAX_WORK, dim)
    above = dd.embedding_near_dup_pairs(
        emb, threshold=0.2, dim=dim, corpus_rows=edge
    )
    below = dd.embedding_near_dup_pairs(
        emb, threshold=0.2, dim=dim, corpus_rows=edge - 1
    )
    assert "FlatMapGroupsInPandas" in _plan(above)
    assert "FlatMapGroupsInPandas" not in _plan(below)
    assert rows(above) == rows(below)

    # IVF corpus assignment: units = k·dim
    cent = sim.build_centroids(emb, num_centroids=4)
    edge = work_rows_threshold(sim._IVF_ASSIGN_LITERAL_MAX_FLOPS, 4 * dim)
    above = sim.ivf_topk(emb, queries, cent, k=5, probes=2, corpus_rows=edge)
    below = sim.ivf_topk(
        emb, queries, cent, k=5, probes=2, corpus_rows=edge - 1
    )
    assert "MapInPandas" in _plan(above)
    assert "MapInPandas" not in _plan(below)
    assert rows(above) == rows(below)

    # Lloyd reassignment (iterations > 0): same units = k·dim
    above = sim.build_centroids(
        emb, num_centroids=4, iterations=2, corpus_rows=edge
    )
    below = sim.build_centroids(
        emb, num_centroids=4, iterations=2, corpus_rows=edge - 1
    )
    assert "MapInPandas" in _plan(above)
    assert "MapInPandas" not in _plan(below)
    assert rows(above) == rows(below)

    # SemDeDup pairwise gate: direct n >= _SEM_VECTORIZE_MIN_ROWS
    edge = sim._SEM_VECTORIZE_MIN_ROWS
    above = sim.semantic_dedup(
        emb, num_centroids=4, tau=0.3, corpus_rows=edge
    )
    below = sim.semantic_dedup(
        emb, num_centroids=4, tau=0.3, corpus_rows=edge - 1
    )
    assert "FlatMapGroupsInPandas" in _plan(above)
    assert "FlatMapGroupsInPandas" not in _plan(below)
    assert rows(above) == rows(below)
    emb.unpersist()


def test_inflated_corpus_rows_hint_cannot_change_semantic_dedup(
    spark, monkeypatch
):
    """Round-10 verdict #4: an over-stated ``corpus_rows`` hint used
    to be able to silently flip the vectorized assignment to the
    APPROXIMATE two-level tree past the FLOPs wall — changing
    keep/drop output, not just the plan.  The guard cross-checks a
    hint-driven flip with a bounded probe: for EVERY hint magnitude,
    output at oracle scale equals the no-hint truth and the flip warns
    loudly; only a flip the probe confirms runs the tree."""
    import random
    import warnings as _w

    from dump1090_postgis_spark.datapipe import similarity as sim
    from dump1090_postgis_spark.datapipe.costmodel import (
        work_rows_threshold,
    )

    rnd = random.Random(92)
    dim = 8
    emb = spark.createDataFrame(
        [(i, [rnd.gauss(0, 1) for _ in range(dim)]) for i in range(60)],
        "vec_id long, embedding array<double>",
    ).cache()

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    truth = rows(sim.semantic_dedup(emb, num_centroids=4, tau=0.3))
    tree_flip_hint = work_rows_threshold(
        sim._ASSIGN_EXACT_MAX_FLOPS, 4 * dim
    )
    for hint in (10**7, tree_flip_hint, tree_flip_hint * 1000, 10**18):
        with _w.catch_warnings(record=True) as caught:
            _w.simplefilter("always")
            got = rows(
                sim.semantic_dedup(
                    emb, num_centroids=4, tau=0.3, corpus_rows=hint
                )
            )
        assert got == truth, f"hint={hint} changed output"
        if hint >= tree_flip_hint:
            assert any(
                "over-stated" in str(w.message) for w in caught
            ), f"hint={hint} flipped without a loud warning"
    # an accurate hint past (patched) gates: the probe confirms the
    # flip, so the tree runs (approximate by contract) without a
    # warning, covering every corpus row exactly once
    monkeypatch.setattr(sim, "_SEM_VECTORIZE_MIN_ROWS", 60)
    monkeypatch.setattr(sim, "_ASSIGN_EXACT_MAX_FLOPS", 1.0)
    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        confirmed = sim.semantic_dedup(
            emb, num_centroids=4, tau=0.3, corpus_rows=60
        )
    assert not any("corpus_rows" in str(w.message) for w in caught)
    assert "FlatMapGroupsInPandas" in _plan(confirmed)
    assert confirmed.count() == 60
    emb.unpersist()


# ---------------------------------------------------------------------------
# literal_dim: the VALUES LocalRelation must be value-identical to the
# createDataFrame frame it replaces (round-12 plan-build-latency sweep)
# ---------------------------------------------------------------------------

_lit_scalar = st.one_of(
    st.none(),
    st.text(
        alphabet=st.characters(
            codec="utf-8", exclude_characters="\x00"
        ),
        max_size=12,
    ),
    st.booleans(),
    st.integers(min_value=-(2**62), max_value=2**62),
    st.floats(allow_nan=False, width=64),
)


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    data=st.lists(
        st.tuples(
            st.text(
                alphabet=st.characters(
                    codec="utf-8", exclude_characters="\x00"
                ),
                max_size=8,
            ),
            st.booleans() | st.none(),
            st.integers(min_value=-(2**62), max_value=2**62) | st.none(),
            st.floats(allow_nan=False, width=64) | st.none(),
            st.lists(
                st.fixed_dictionaries(
                    {
                        "lon": st.floats(allow_nan=False, width=64),
                        "lat": st.floats(allow_nan=False, width=64),
                    }
                ),
                max_size=3,
            )
            | st.none(),
        ),
        max_size=8,
    )
)
def test_literal_dim_matches_createdataframe(spark, data):
    """For every row set: same schema, same values, same order as the
    createDataFrame equivalent — plus the LocalRelation property that
    makes it worth having (plan_rows answers with zero jobs)."""
    from dump1090_postgis_spark.datapipe.costmodel import plan_rows
    from dump1090_postgis_spark.sources.dims import literal_dim

    ddl = (
        "s string, b boolean, i bigint, d double, "
        "poly array<struct<lon:double,lat:double>>"
    )
    lit = literal_dim(spark, data, ddl)
    ref = spark.createDataFrame(data, ddl)
    # names+types must match; nullability may differ (VALUES infers
    # non-null from all-non-null literals), which no consumer reads
    assert [
        (f.name, f.dataType.simpleString()) for f in lit.schema.fields
    ] == [(f.name, f.dataType.simpleString()) for f in ref.schema.fields]
    assert lit.collect() == ref.collect()  # order preserved too
    if data:
        assert plan_rows(lit) == len(data)


def test_literal_dim_quotes_awkward_field_names(spark):
    """Reserved words, dashes, spaces, and embedded backticks are legal
    StructField names createDataFrame always accepted; the SQL VALUES
    rendering must backtick-quote them instead of producing a parse
    error (round-12 advice).  Covers both the empty-frame alias path
    and the VALUES projection."""
    from pyspark.sql import types as T

    from dump1090_postgis_spark.sources.dims import literal_dim

    schema = T.StructType(
        [
            T.StructField("order", T.StringType()),   # reserved word
            T.StructField("my-col", T.LongType()),    # dash
            T.StructField("a b", T.BooleanType()),    # space
            T.StructField("ti`ck", T.StringType()),   # embedded backtick
        ]
    )
    rows = [("x", 1, True, "y"), (None, 2, None, "z")]
    lit = literal_dim(spark, rows, schema)
    ref = spark.createDataFrame(rows, schema)
    assert lit.columns == ref.columns
    assert lit.collect() == ref.collect()
    empty = literal_dim(spark, [], schema)
    assert empty.columns == ref.columns and empty.count() == 0


# ---------------------------------------------------------------------------
# Dense ids: grouped numbering (operators/ids.py `group_col`)
# ---------------------------------------------------------------------------

# A spine of "span" rows across the whole key range: that group always
# spreads over several range partitions.
_ID_SPINE = [("span", k) for k in range(0, 100, 4)]


@settings(**_SETTINGS)
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["span", "a", "b", None]),
            st.integers(min_value=0, max_value=99),
        ),
        max_size=40,
    ),
)
def test_dense_ids_group_col_numbers_each_group_densely(spark, rows):
    """Per group, ids are exactly 1..n in order_cols order
    however the group's rows spread over the range partitions; without
    group_col the same rows get one global dense rank."""
    from pyspark.sql import functions as F

    from dump1090_postgis_spark.operators.ids import (
        release_caches,
        with_dense_ids,
    )

    data = [(g, k, i) for i, (g, k) in enumerate(_ID_SPINE + rows)]
    df = spark.createDataFrame(data, "g string, k int, i int")
    caches = []
    grouped = with_dense_ids(
        df, ["k", "i"], "id", caches=caches, group_col="g"
    ).collect()
    layout = caches[0]
    assert layout.select("_pid").distinct().count() >= 4
    assert (
        layout.filter(F.col("g") == "span").select("_pid").distinct().count()
        >= 2
    )
    flat = with_dense_ids(
        df.select("k", "i"), ["k", "i"], "id", caches=caches
    ).collect()
    release_caches(caches)

    for g in {r[0] for r in data}:
        ordered = sorted((k, i) for gg, k, i in data if gg == g)
        got = sorted(((r.k, r.i), r.id) for r in grouped if r.g == g)
        assert got == [(key, n) for n, key in enumerate(ordered, start=1)]
    assert len(grouped) == len(data)
    ordered = sorted((k, i) for _, k, i in data)
    assert sorted(((r.k, r.i), r.id) for r in flat) == [
        (key, n) for n, key in enumerate(ordered, start=1)
    ]
