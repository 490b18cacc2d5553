"""The traced run's curation pass: a two-batch training-data curation
through ``datapipe``, run on ``capture_etl`` with ``--trace 1`` only.

Batch 1 is exact-deduplicated, MinHash-banded into a persisted LSH
artifact, near-duplicate-clustered into a persisted cluster map,
decontaminated against its ``bench`` documents, semantically
deduplicated and turned into a vocabulary.  Batch 2 is merged into the
cluster map and the LSH artifact that batch 1 persisted, deduplicated
with batch 1, decontaminated against the same benchmark, semantically
deduplicated with batch 1 and tokenized against batch 1's vocabulary.

Each call is two spans: ``build`` (the call that returns the
DataFrame, with any jobs it runs eagerly) and ``action`` (the collect
or write the benchmark makes).  Every output is checked against the
corpus generator's truth.
"""

from __future__ import annotations

import os
import re
import time

import pyarrow as pa
import pyarrow.parquet as pq

import corpusgen as cg
from harness import log

TAU = 0.97  # planted vector pairs: cosine ~1; other cluster-mates < 0.9
THRESHOLD = 0.5  # near-duplicate Jaccard; planted pairs >= 0.98, others ~0
PARAMS = {"threshold": THRESHOLD}
BANDS = 4  # minhash_banded's default: one artifact row per document and band

FNS = (
    "dedup.exact_dedup",
    "dedup.minhash_banded",
    "dedup.jaccard_pairs",
    "cluster.duplicate_clusters",
    "cluster.update_cluster_map",
    "contamination.decontaminate_fuzzy",
    "similarity.semantic_dedup",
    "text.materialize_vocab",
    "text.apply_vocab",
)
PARTS = ("build_s", "eager_jobs", "action_jobs", "gap_s", "py4j_calls", "shuffle_write_bytes")
CHECKS = ("exact1", "exact2", "map1", "map2", "decon1", "decon2", "sem1", "sem2", "oov",
          "lsh_rows")
# Physical operators that run Python: the Arrow/pandas engines an
# ``engine='auto'`` gate can pick instead of the declarative plan.
_PY_NODES = re.compile(r"\b(ArrowEvalPython|BatchEvalPython|FlatMapGroupsInPandas|"
                       r"FlatMapCoGroupsInPandas|MapInPandas|MapInArrow)\b")


def _write_inputs(corpus, root: str) -> dict[str, str]:
    doc_schema = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                            ("lang", pa.string()), ("source", pa.string()),
                            ("n_chars", pa.int64())])
    vec_schema = pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
                            ("label", pa.int32())])
    paths = {}
    for b, batch in enumerate(corpus.batches, 1):
        for kind, rows, schema in (("docs", batch.docs, doc_schema),
                                   ("vecs", batch.vectors, vec_schema)):
            d = paths[f"{kind}{b}"] = os.path.join(root, f"{kind}{b}")
            os.makedirs(d)
            cols = list(zip(*rows))
            pq.write_table(pa.table([pa.array(c, f.type) for c, f in zip(cols, schema)],
                                    schema=schema), os.path.join(d, "part-0.parquet"))
    return paths


def run_traced(spark, work, seed: int, tracer) -> dict:
    """One cold two-batch pass with spans around every datapipe call."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import ArrayType, DoubleType, IntegerType, StructField, StructType

    from dump1090_postgis_spark.datapipe import cluster, contamination, dedup, similarity, text
    from dump1090_postgis_spark.sources.dims import literal_dim

    corpus = cg.make_corpus(seed)
    paths = _write_inputs(corpus, work.sub("corpus"))
    cen = literal_dim(spark, corpus.centroids, StructType([
        StructField("centroid_id", IntegerType()),
        StructField("centroid", ArrayType(DoubleType()))]))
    d1, d2 = spark.read.parquet(paths["docs1"]), spark.read.parquet(paths["docs2"])
    e1, e2 = spark.read.parquet(paths["vecs1"]), spark.read.parquet(paths["vecs2"])
    is_bench = F.col("source") == "bench"
    art, map1, map2 = (work.sub("curation", n) for n in ("lsh", "map1", "map2"))
    collected = []

    def collect(df):
        collected.append(df)
        return df.collect()

    def call(name, build, action):
        with tracer.span(f"datapipe.{name}.build"):
            df = build()
        with tracer.span(f"datapipe.{name}.action"):
            return action(df)

    def write_map(path, docs):
        return lambda df: cluster.write_cluster_map(df, path, cluster.corpus_fingerprint(docs),
                                                    PARAMS)

    r = {}
    t0 = time.time()
    # batch 1
    r["exact1"] = call("dedup.exact_dedup", lambda: dedup.exact_dedup(d1), collect)
    call("dedup.minhash_banded", lambda: dedup.minhash_banded(d1),
         lambda df: df.write.mode("overwrite").parquet(art))
    pairs = call("dedup.jaccard_pairs", lambda: dedup.jaccard_pairs(
        d1, dedup.banded_candidate_pairs(spark.read.parquet(art)), threshold=THRESHOLD),
        lambda df: df.localCheckpoint(eager=True))
    call("cluster.duplicate_clusters", lambda: cluster.duplicate_clusters(d1, pairs),
         write_map(map1, d1))
    r["decon1"] = call("contamination.decontaminate_fuzzy", lambda: contamination
                       .decontaminate_fuzzy(d1, is_bench).select("doc_id"), collect)
    r["sem1"] = call("similarity.semantic_dedup", lambda: similarity.semantic_dedup(
        e1, centroids=cen, tau=TAU), collect)
    vocab = call("text.materialize_vocab", lambda: text.materialize_vocab(
        text.vocab_rank_table(d1, min_count=2)), lambda df: df)
    # batch 2, merged into what batch 1 persisted
    d12 = d1.unionByName(d2)
    call("cluster.update_cluster_map", lambda: cluster.update_cluster_map(
        d1, cluster.load_cluster_map(spark, map1, cluster.corpus_fingerprint(d1), PARAMS),
        d2, threshold=THRESHOLD, old_banded=spark.read.parquet(art)), write_map(map2, d12))
    call("dedup.minhash_banded", lambda: dedup.minhash_banded(d2),
         lambda df: df.write.mode("append").parquet(art))
    r["exact2"] = call("dedup.exact_dedup", lambda: dedup.exact_dedup(d12), collect)
    r["decon2"] = call("contamination.decontaminate_fuzzy", lambda: contamination
                       .decontaminate_fuzzy(d2.unionByName(d1.filter(is_bench)), is_bench)
                       .select("doc_id"), collect)
    r["sem2"] = call("similarity.semantic_dedup", lambda: similarity.semantic_dedup(
        e1.unionByName(e2), centroids=cen, tau=TAU), collect)
    r["oov"] = call("text.apply_vocab", lambda: text.apply_vocab(d2, vocab), collect)
    curation_s = time.time() - t0
    # outside the spans: what the layers are reported against
    first_new = corpus.batches[1].docs[0][0]  # ids ascend across the batches
    candidates = dedup.banded_candidate_pairs(
        spark.read.parquet(art).filter(F.col("_id") < first_new)).count()
    py_nodes = sum(len(_PY_NODES.findall(df._jdf.queryExecution().executedPlan().toString()))
                   for df in collected)
    r["map1"] = pq.read_table(map1, columns=["doc_id", "component"]).to_pylist()
    r["map2"] = pq.read_table(map2, columns=["doc_id", "component"]).to_pylist()
    r["lsh_rows"] = pq.read_table(art, columns=["_id"]).num_rows
    bad = check(corpus, r)
    for why in bad:
        log(f"curation: {why} differs from the truth")
    log(f"curation: pass {curation_s:.1f}s, {len(bad)} of {len(CHECKS)} outputs wrong")
    return {
        "attempted": len(CHECKS), "failed": len(bad),
        "layers": {
            "datapipe.curation_s": curation_s,
            "datapipe.dedup.verified_ratio": pairs.count() / candidates if candidates else 0.0,
            "datapipe.lsh_artifact.bytes_written": sum(
                os.path.getsize(os.path.join(art, f)) for f in os.listdir(art)
                if f.endswith(".parquet")),
            "datapipe.python_plan_nodes": py_nodes,
        },
    }


def traced_layers(tracer, jobs) -> dict:
    from tracing import span_layers

    out = {}
    for fn in FNS:
        name = f"datapipe.{fn}"
        split = span_layers(name, jobs, tracer.find(f"{name}.build"),
                            tracer.find(f"{name}.action"))
        out.update({f"{name}.{k}": split[f"{name}.{k}"] for k in PARTS})
    return out


def check(corpus, r) -> list[str]:
    """The names of the pass's outputs that differ from the truth."""
    bad = []
    for b in (1, 2):
        docs = corpus.docs(b - 1)
        groups: dict[str, list[int]] = {}
        for d in docs:
            groups.setdefault(" ".join(cg.normalized_words(d[1])), []).append(d[0])
        want = sorted((min(g), len(g)) for g in groups.values() if len(g) > 1)
        got = sorted((x["keep_id"], x["n_copies"]) for x in r[f"exact{b}"] if x["n_copies"] > 1)
        if got != want:
            bad.append(f"exact{b}")
        ids = [d[0] for d in docs]
        first: dict[int, int] = {}
        for i in ids:
            first.setdefault(corpus.root(i), i)  # ids ascend: the first is the min
        want_map = {i: first[corpus.root(i)] for i in ids}
        if {x["doc_id"]: x["component"] for x in r[f"map{b}"]} != want_map:
            bad.append(f"map{b}")
        batch = corpus.batches[b - 1].docs
        frame = batch if b == 1 else batch + [d for d in corpus.batches[0].docs
                                              if d[3] == "bench"]
        kept = {x["doc_id"] for x in r[f"decon{b}"]}
        if {d[0] for d in frame} - kept != corpus.contaminated & {d[0] for d in batch}:
            bad.append(f"decon{b}")
        vids = {v[0] for bb in corpus.batches[:b] for v in bb.vectors}
        dropped = {x["vec_id"] for x in r[f"sem{b}"] if not x["keep"]}
        if len(r[f"sem{b}"]) != len(vids) or dropped != corpus.vec_dups & vids:
            bad.append(f"sem{b}")
    counts: dict[str, int] = {}
    for d in corpus.batches[0].docs:
        for w in cg.normalized_words(d[1]):
            counts[w] = counts.get(w, 0) + 1
    want_oov = {}
    for d in corpus.batches[1].docs:
        ws = cg.normalized_words(d[1])
        want_oov[d[0]] = (len(ws), sum(1 for w in ws if counts.get(w, 0) < 2))
    if {x["doc_id"]: (x["n_tokens"], x["n_oov"]) for x in r["oov"]} != want_oov:
        bad.append("oov")
    if r["lsh_rows"] != BANDS * sum(len(b.docs) for b in corpus.batches):
        bad.append("lsh_rows")
    return bad
