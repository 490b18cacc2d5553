"""Seeded two-batch curation corpus with its ground truth.

Shaped like a ``documents.parquet`` / ``embeddings.parquet`` pair
(``doc_id, text, lang, source, n_chars`` and ``vec_id, embedding,
label``).  Planted into it, and known exactly:

- exact duplicates: a copy of an earlier document, re-cased and
  re-spaced (the same text once normalized);
- near-duplicate families: an earlier document with one word appended
  (k=3 shingle Jaccard (n-2)/(n-1) >= 0.98 for n >= 60 words, so a
  16-hash, 4-band MinHash misses such a pair about once in 10^5);
- overlaps: the first 55% of an earlier document's words, then fresh
  ones (Jaccard 0.35-0.40: below the 0.5 threshold, but about one in
  fifteen becomes a MinHash candidate that verification must reject);
- contamination: ``source == "bench"`` documents, and training
  documents that are one-word variants of one of them;
- near-duplicate vectors: an earlier vector plus a 1e-3 perturbation,
  against cluster-mates whose cosine stays below 0.9.

Batch 2 carries copies and variants of batch-1 documents, so merging it
into batch 1's cluster map joins clusters across the batches.  Every
other pair of documents shares almost no 3-word shingle.

The same seed gives byte-identical documents, vectors and truth.
"""

from __future__ import annotations

import math
import random
from dataclasses import dataclass, field

N_DOCS = (500, 250)
N_VECS = (500, 250)
N_BENCH = 20
N_CONTAMINATED = (12, 6)
COPY_SHARE = 0.05
VARIANT_SHARE = 0.08
OVERLAP_SHARE = 0.08
OVERLAP_KEEP = 0.55
VEC_DUP_SHARE = 0.08
DIM = 32
N_CENTROIDS = 8
WORDS = 400  # vocabulary size; word frequencies follow a Zipf law
LANGS = ("en", "fr", "de", "es", "zh")


@dataclass
class Batch:
    docs: list[tuple]  # (doc_id, text, lang, source, n_chars)
    vectors: list[tuple]  # (vec_id, embedding, label)


@dataclass
class Corpus:
    batches: list[Batch]
    centroids: list[tuple]  # (centroid_id, centroid)
    # doc_id -> the doc it was derived from (copy, variant or
    # contaminated variant); roots map to nothing
    parent: dict[int, int] = field(default_factory=dict)
    copies: set[int] = field(default_factory=set)  # exact duplicates
    overlaps: dict[int, int] = field(default_factory=dict)  # doc_id -> the doc it half copies
    contaminated: set[int] = field(default_factory=set)
    vec_dups: set[int] = field(default_factory=set)

    def root(self, doc_id: int) -> int:
        while doc_id in self.parent:
            doc_id = self.parent[doc_id]
        return doc_id

    def docs(self, upto: int) -> list[tuple]:
        """Documents of batches ``0..upto``."""
        return [d for b in self.batches[:upto + 1] for d in b.docs]


def _vocab() -> list[str]:
    syl = ("ka", "to", "ri", "ne", "mu", "sa", "lo", "pe", "di", "vu")
    return [syl[i % 10] + syl[(i // 10) % 10] + syl[(i // 100) % 10] for i in range(WORDS)]


_VOCAB = _vocab()
_ZIPF = [1.0 / (r + 1) for r in range(WORDS)]


def _text(rng: random.Random) -> list[str]:
    return rng.choices(_VOCAB, weights=_ZIPF, k=rng.randint(60, 110))


def _doc(doc_id: int, words: list[str], lang: str, source: str) -> tuple:
    text = " ".join(words)
    return (doc_id, text, lang, source, len(text))


def _recase(rng: random.Random, text: str) -> str:
    """The same text once lowercased and whitespace-collapsed."""
    out = []
    for w in text.split(" "):
        out.append(w.upper() if rng.random() < 0.2 else w)
        out.append("  " if rng.random() < 0.1 else " ")
    return "".join(out[:-1])


def _unit(v: list[float]) -> list[float]:
    n = math.sqrt(sum(x * x for x in v))
    return [x / n for x in v]


def make_corpus(seed: int) -> Corpus:
    rng = random.Random(f"corpus-{seed}")
    centroids = [_unit([rng.gauss(0, 1) for _ in range(DIM)]) for _ in range(N_CENTROIDS)]
    corpus = Corpus([], [(i, c) for i, c in enumerate(centroids)])
    roots: list[tuple] = []  # original training documents so far
    bench: list[tuple] = []
    next_id = 0
    vecs_so_far: list[tuple] = []
    for b, n_docs in enumerate(N_DOCS):
        docs: list[tuple] = []
        if b == 0:
            for _ in range(N_BENCH):
                bench.append(_doc(next_id, _text(rng), "en", "bench"))
                next_id += 1
            docs += bench
        for _ in range(N_CONTAMINATED[b]):
            src = rng.choice(bench)
            corpus.parent[next_id] = src[0]
            corpus.contaminated.add(next_id)
            docs.append(_doc(next_id, src[1].split(" ") + [rng.choice(_VOCAB)],
                             src[2], "web"))
            next_id += 1
        while len(docs) < n_docs:
            r = rng.random()
            lang, source = rng.choice(LANGS), f"src{rng.randrange(5)}"
            if roots and r < COPY_SHARE:
                src = rng.choice(roots)
                corpus.parent[next_id] = src[0]
                corpus.copies.add(next_id)
                text = _recase(rng, src[1])
                docs.append((next_id, text, src[2], source, len(text)))
            elif roots and r < COPY_SHARE + VARIANT_SHARE:
                src = rng.choice(roots)
                corpus.parent[next_id] = src[0]
                docs.append(_doc(next_id, src[1].split(" ") + [rng.choice(_VOCAB)],
                                 src[2], source))
            elif roots and r < COPY_SHARE + VARIANT_SHARE + OVERLAP_SHARE:
                src = rng.choice(roots)
                words = src[1].split(" ")
                keep = words[:int(len(words) * OVERLAP_KEEP)]
                corpus.overlaps[next_id] = src[0]
                docs.append(_doc(next_id, keep + _text(rng)[:len(words) - len(keep)],
                                 lang, source))
            else:
                d = _doc(next_id, _text(rng), lang, source)
                roots.append(d)
                docs.append(d)
            next_id += 1
        vecs: list[tuple] = []
        for _ in range(N_VECS[b]):
            vid = len(vecs_so_far) + len(vecs)
            if (vecs_so_far or vecs) and rng.random() < VEC_DUP_SHARE:
                base = rng.choice(vecs_so_far + vecs)
                v = _unit([x + rng.gauss(0, 1e-3 / math.sqrt(DIM)) for x in base[1]])
                corpus.vec_dups.add(vid)
                label = base[2]
            else:
                label = rng.randrange(N_CENTROIDS)
                c = centroids[label]
                v = _unit([x + rng.gauss(0, 0.8 / math.sqrt(DIM)) for x in c])
            vecs.append((vid, [float(x) for x in v], label))
        vecs_so_far += vecs
        corpus.batches.append(Batch(docs, vecs))
    return corpus


def normalized_words(text: str) -> list[str]:
    """The engine's tokenization: lowercase, whitespace runs collapsed,
    split on single spaces."""
    return " ".join(text.lower().split()).split(" ")
