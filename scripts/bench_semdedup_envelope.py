#!/usr/bin/env python
"""Measure the UNCOLLAPSED SemDeDup envelope at a replication scale.

The ×N replication creates exact-duplicate families, so the default
collapse_exact path shortcuts the O(b²) pairwise; a REAL deduped
corpus (all-distinct vectors) pays the full within-cluster pairwise.
This script times that envelope — collapse_exact=False — for the
join engine vs the Arrow/numpy vectorized engine (round-6 measured
join envelope at ×1000: 1,102 s).

Usage:
    SPARK_GRAFT_SCALE=1000 python scripts/bench_semdedup_envelope.py [join|vectorized|vectorized-tree|both]

(``scripts/bench_scale.py`` generates the replicated set; with
``SPARK_GRAFT_BENCH_TABLES=embeddings`` it writes only this table.)

semantic_dedup picks its engines by size, so each mode moves the size
gates instead: ``join`` lifts ``_SEM_VECTORIZE_MIN_ROWS`` past the
corpus, ``vectorized`` drops it to 0 and lifts
``_ASSIGN_EXACT_MAX_FLOPS`` (exact all-k assignment), and
``vectorized-tree`` drops both to 0 (the two-level BLAS assignment with
``_TREE_COARSE_PROBES`` probes) — the eighth-decade lever: past ~20M
rows auto-k makes the EXACT all-k assignment matmul the dominant term
(O(n^2/target)), and the coarse/fine search cuts it
~sqrt(k)/(1+probes)-fold at the cost of coarse-boundary approximation
(kept counts reported for comparison).
"""

from __future__ import annotations

import json
import os
import sys
import time
from unittest.mock import patch

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCALE = int(os.environ.get("SPARK_GRAFT_SCALE", "100"))
SF_DIR = os.path.join(REPO, f".bench_sf1_x{SCALE}")


def main() -> int:
    from dump1090_postgis_spark.datapipe import similarity as sim
    from dump1090_postgis_spark.schemas import load_table
    from dump1090_postgis_spark.session import get_spark

    which = sys.argv[1] if len(sys.argv) > 1 else "vectorized"
    engines = ["join", "vectorized"] if which == "both" else [which]
    spark = get_spark(app_name=f"semdedup-envelope-x{SCALE}")
    emb = load_table(spark, SF_DIR, "embeddings")
    n = emb.count()
    # Report the pairwise salt the run will resolve (round-9: keyed on
    # the OBSERVED cluster shape — live clusters × max members — not
    # k; at the ×30000 envelope the k-rule resolved salt 1 while 2,000
    # live clusters of ~30k members did all the work).  Estimated here
    # from the replication structure (each sf0.1 anchor is one exact
    # family of SCALE members) so the figure lands in the JSON without
    # re-running the assignment.
    base_anchors = n // SCALE
    est_salt = sim.resolve_pairwise_salt(base_anchors, SCALE)
    out = {
        "scale": SCALE,
        "rows": n,
        "collapse_exact": False,
        "est_live_clusters": base_anchors,
        "est_max_members": SCALE,
        "est_pairwise_salt": est_salt,
    }
    gates = {
        "join": {"_SEM_VECTORIZE_MIN_ROWS": n + 1},
        "vectorized": {
            "_SEM_VECTORIZE_MIN_ROWS": 0,
            "_ASSIGN_EXACT_MAX_FLOPS": float("inf"),
        },
        "vectorized-tree": {
            "_SEM_VECTORIZE_MIN_ROWS": 0,
            "_ASSIGN_EXACT_MAX_FLOPS": 0.0,
        },
    }
    for engine in engines:
        t0 = time.monotonic()
        with patch.multiple(sim, **gates[engine]):
            res = sim.semantic_dedup(
                emb, num_centroids=None, tau=0.3, collapse_exact=False
            )
            kept = res.filter("keep").count()
        out[engine] = {"sec": round(time.monotonic() - t0, 1), "kept": kept}
        print(f"{engine}: {out[engine]}", file=sys.stderr)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
