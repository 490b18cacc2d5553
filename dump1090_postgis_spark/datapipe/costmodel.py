"""Shared cost model for the engine dispatch gates.

Every vectorized/scale engine in this package (blocked brute-force
ANN, bucketed LSH verifies, the BLAS centroid assignment) is chosen
by size, not by the caller — the operators take no engine argument.
Oracle-checked scales stay on the bit-exact declarative path and
only genuinely large inputs pay the Arrow seam.  A caller
that knows its corpus size passes it as the ``corpus_rows`` hint;
that hint, or in tests a monkeypatched budget constant, is what moves
a call across a gate.  Until round 8 each gate made that decision
with its own eager ``df.count()`` — at 100 TB
that is a full scan (or at best a parquet-footer pass) just to pick an
engine, and a row-count threshold is blind to per-row width (a 4k-dim
corpus hits the interpreted-expression wall at far fewer rows than a
64-dim one).

This module is the one place the decision is made:

- the size source is the ``corpus_rows`` hint → Catalyst plan
  statistics → a BOUNDED limit-probe (never an unbounded count);
- the unit is WORK (rows × units-per-row: dim for dense vectors,
  n·k·dim for assignment FLOPs), with plain rows as the degenerate
  case where per-row width genuinely doesn't matter (the minhash
  break-even was measured in docs at a fixed shingle profile).

The dispatch rule itself is a pure function of sizes so it is
unit-testable without a SparkSession (same discipline as
``similarity.resolve_assignment_probes``).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame

#: ``DataFrame.limit`` takes a JVM int — the hard ceiling on what a
#: bounded limit-probe can COUNT, and therefore on the largest
#: threshold :func:`rows_at_least` can confirm without plan stats.
JVM_INT_MAX = 2**31 - 1


#: Optimized-plan ROOT nodes whose stats().rowCount is exact BY
#: CONSTRUCTION: the relation holds its rows (LocalRelation — the
#: optimizer even folds Filter/Project into it, keeping the count
#: exact) or computes them in closed form (Range, OneRowRelation).
#: Anything else with a defined rowCount is a CBO/AQE ESTIMATE —
#: measured on this build: `spark.sql.cbo.enabled=true` makes
#: `range(1000).filter(id>10)` report 990 (truth: 989) via
#: FilterEstimation — and estimates must never feed answer-affecting
#: sizes (semantic_dedup's auto-k, the assignment-probes tree flip),
#: so :func:`plan_rows` rejects them and callers fall through to the
#: bounded probe / eager count.
_EXACT_STATS_ROOTS = frozenset(
    {"LocalRelation", "Range", "OneRowRelation", "CommandResult"}
)


def plan_rows(df: DataFrame) -> int | None:
    """Catalyst's row count for ``df`` when the optimizer knows it
    EXACTLY with zero jobs (a LocalRelation — pandas/Arrow-backed
    frames, including with folded filters — or a Range) — ``None``
    otherwise.  CBO rowCount ESTIMATES (FilterEstimation, stale
    ANALYZE stats) are deliberately rejected: this value feeds
    answer-affecting decisions (auto-k, the approximate-tree flip),
    not just engine dispatch, so inexact is worse than absent.  Never
    runs a job."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        if plan.nodeName() not in _EXACT_STATS_ROOTS:
            return None
        rc = plan.stats().rowCount()
        if rc.isDefined():
            # Scala BigInt → via string, safe at any magnitude
            return int(str(rc.get()))
    except Exception:  # py4j / private-API drift: fall through to probe
        return None
    return None


def rows_at_least(
    df: DataFrame, threshold: int, size_hint: int | None = None
) -> bool:
    """True iff ``df`` has at least ``threshold`` rows, WITHOUT an
    unbounded count.

    Size source, in order: an explicit caller ``size_hint`` (the 100 TB
    contract — a pipeline that already knows its corpus size passes it
    and no job runs), Catalyst plan statistics (:func:`plan_rows`),
    else a bounded limit-probe: ``df.limit(threshold).count()`` — the
    LocalLimit stops every partition after ``threshold`` rows, so the
    probe's work is bounded by threshold × partitions touched, never
    the full input (the gate thresholds here are ≤ a few million rows,
    against corpora of billions)."""
    if threshold <= 0:
        return True
    if size_hint is not None:
        return int(size_hint) >= threshold
    est = plan_rows(df)
    if est is not None:
        return est >= threshold
    # limit() takes a JVM int; a threshold past 2^31−1 (small explicit
    # k makes the FLOPs wall ~3e10 rows) clamps the probe, which can
    # then only answer "< threshold" — the CONSERVATIVE direction for
    # every gate this feeds (stay exact / stay on the join engine).
    # Callers for whom "conservative" is NOT free (the hint cross-check
    # in similarity.semantic_dedup, where a false negative overrides an
    # accurate decade-scale hint) must probe at min(threshold,
    # JVM_INT_MAX) themselves and treat a saturated probe as
    # inconclusive.
    cap = min(threshold, JVM_INT_MAX)
    return df.limit(cap).count() >= threshold


def work_rows_threshold(budget: float, units_per_row: float) -> int:
    """Rows at which ``rows × units_per_row`` first EXCEEDS ``budget``
    — the pure dispatch rule, unit-tested without Spark."""
    upr = max(1.0, float(units_per_row))
    return int(math.floor(float(budget) / upr)) + 1


def work_exceeds(
    df: DataFrame,
    budget: float,
    units_per_row: float,
    size_hint: int | None = None,
) -> bool:
    """True iff ``df``'s total work (rows × ``units_per_row``) exceeds
    ``budget``.  ``units_per_row`` carries the per-row width into the
    decision — dim for dense-vector scans, k·dim for nearest-centroid
    assignment — so the gate is a FLOPs wall, not a row wall."""
    return rows_at_least(
        df, work_rows_threshold(budget, units_per_row), size_hint
    )
