"""Timezone + time-binning helpers (SURVEY §2.7, §7 "hard parts").

The reference bins in UTC or in Europe/Paris local time via Postgres
``AT TIME ZONE`` round-trips (create_public_schema.sql:295-297).  All
local-time logic is centralized here: ``to_local`` on TIMESTAMP_NTZ
columns (the engine treats stored timestamps as UTC wall clocks,
matching the reference which stores tz-aware UTC).

``convert_timezone`` is DST-correct (ICU rules), so the Europe/Paris
variants agree with Postgres across DST boundaries.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# bins accepted by the reference's histogram functions
# (create_public_schema.sql:182-200: bin ∈ hour/day/week/month/year)
VALID_BINS = {"hour", "day", "week", "month", "year"}

DEFAULT_LOCAL_TZ = "Europe/Paris"


def validate_bin(bin_: str) -> str:
    b = bin_.lower()
    if b not in VALID_BINS:
        raise ValueError(f"bin must be one of {sorted(VALID_BINS)}, got {bin_!r}")
    return b


def epoch_micros(ts: Column) -> Column:
    """Integer microseconds since epoch — the precision PG interval
    arithmetic (and DuckDB) operates at.  All gap/range-frame
    comparisons in the engine use this, never float seconds, so window
    membership of sub-second timestamps is exact."""
    return F.unix_micros(ts.cast("timestamp"))


def to_local(ts: Column, tz: str = DEFAULT_LOCAL_TZ) -> Column:
    """UTC wall-clock → local wall-clock (PG: ts AT TIME ZONE 'UTC' AT
    TIME ZONE tz)."""
    return F.convert_timezone(F.lit("UTC"), F.lit(tz), ts)


def bin_interval(bin_: str) -> Column:
    """CONCAT('1 ', bin)::interval (create_public_schema.sql:189) —
    validated Python-side, then a constant interval expression."""
    return F.expr(f"INTERVAL 1 {validate_bin(bin_)}")
