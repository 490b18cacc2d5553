"""SBS-1 line parsing and normalization (SURVEY §2.1 SRC-3, §2.2 PRJ-1..5,
FLT-1..4).

Reference behavior being matched (not ported):
- malformed-line gate: exactly 22 comma-separated fields
  (adsb_parser.py:41-66,288-291)
- regex field extraction of 20 fields (adsb_parser.py:176-195)
- per-field cast with ValueError→None, i.e. failed cast → NULL
  (adsb_parser.py:256-261) — Spark's cast gives exactly this
- timestamp 'yyyy/MM/dd,HH:mm:ss.SSS' → UTC (adsb_parser.py:27,203-206)
- callsign: strip; empty → NULL (adsb_parser.py:207)
- booleans: wire '-1' → true, else false (adsb_parser.py:215-218)
- ft→m conversion 0.3048 (shared.py:5-7)
- the admission altitude band (adsb_parser.py:294-357, wired
  below=10000 at run.py:28), strict: a NULL altitude is rejected
- MSG-type field dispatch: which fields each transmission type
  carries (models.py:146-190)

Everything here is a declarative projection — whole-stage-codegen'd by
Catalyst, no Python in the hot path. On 100 TB of raw lines this runs
scan→project→filter with nothing to shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.conversions import feet2m
from ..schemas import N_SBS1_FIELDS, SBS1_FIELDS

GND_ALTITUDE_M = 0.0  # models.py:32-34: MSG2 carries no altitude → ground level

# FLT-1 band of the MSG3 admission test (flights.py:97-108): run.py:28
# wires AdsbMessageFilter(below=10000), the filter is strict
# (adsb_parser.py:322), so an MSG3 admits a flight only with an
# altitude strictly inside (ABOVE, BELOW).  The batch ETL and the live
# session handler both read these.
ADMISSION_ALT_ABOVE = -1000.0
ADMISSION_ALT_BELOW = 10000.0

# models.py:161-167 — fields updated per transmission type.
MSG_FIELDS = {
    1: ["callsign", "onground"],
    2: ["speed", "latitude", "longitude", "onground"],
    3: ["altitude", "latitude", "longitude", "onground"],
    4: ["speed", "track", "verticalrate", "onground"],
    5: ["altitude", "verticalrate"],
    6: [],  # squawk only; ignored by flight state (models.py:168-171)
    7: [],  # altitude; ignored
    8: ["onground"],
}


def gate_malformed(lines: DataFrame) -> DataFrame:
    """SRC-3: keep only lines (the ``value`` column) with exactly 22
    comma-separated fields.

    `split` with limit -1 keeps trailing empty fields, matching
    Python's str.split(',') used by the reference gate.
    """
    return lines.filter(
        F.size(F.split(F.col("value"), ",", -1)) == F.lit(N_SBS1_FIELDS)
    )


# The reference's REGEXP_MSG (adsb_parser.py:176-195) transliterated:
# same anchors, same per-field character classes, positional instead of
# named groups.  A line that fails ANY field's class is rejected whole —
# the reference returns an empty dict and never reaches the cast stage
# (adsb_parser.py:247-254).  NULL-on-ValueError (:256-261) only ever
# fires for values that PASS the class but fail the cast (empty string,
# bare '-', out-of-calendar dates).
#
# (?U) = Java UNICODE_CHARACTER_CLASS: \w/\d/\s match Unicode word
# chars/digits exactly like the reference's Python `re` defaults (Java
# is otherwise ASCII-only — a callsign with non-ASCII letters would
# diverge).  Residual divergence, documented: a Unicode DIGIT passing
# the gate in a numeric field casts to NULL here, while Python's
# int()/float() accept it — unreachable for real ADS-B feeds.
REFERENCE_LINE_REGEX = (
    r"(?U)^MSG,"
    r"\d,"            # transmission_type
    r"\d+,"           # session
    r"\d+,"           # aircraft
    r"[0-9A-F]+,"     # hexident (uppercase hex only)
    r"\d+,"           # flight
    r"[0-9/]+,[0-9:.]+,"   # gen date,time
    r"[0-9/]+,[0-9:.]+,"   # log date,time
    r"[\w\s]*,"       # callsign
    r"[\d-]*,"        # altitude
    r"\d*,"           # speed
    r"[\d-]*,"        # track
    r"[\d.-]*,"       # latitude
    r"[\d.-]*,"       # longitude
    r"[\d-]*,"        # verticalrate
    r"\d*,"           # squawk
    r"[\d-]*,[\d-]*,[\d-]*,[\d-]*$"  # alert,emergency,spi,onground
)


def validity_gate(lines: DataFrame) -> DataFrame:
    """Reference-regex validity gate: drop any line whose fields don't
    all match REGEXP_MSG's character classes (adsb_parser.py:176-195).

    One `rlike` per line — scan-level, codegen'd, no shuffle.  Note the
    reference, on a failed match, yields a stale copy of the PREVIOUS
    message's attributes (adsb_parser.py:286-287 updates with an empty
    dict but still yields) — a bug we deliberately do not replicate;
    failed lines are dropped here.
    """
    return lines.filter(F.col("value").rlike(REFERENCE_LINE_REGEX))


def _bool_from_wire(c: Column) -> Column:
    """Wire booleans: the reference's lambda is literally
    ``True if v == "-1" else False`` (adsb_parser.py:215-218) — it can
    never raise, so empty/garbage values are False, NOT NULL (the
    NULL-on-ValueError path at :256-261 applies to numeric casts only).
    """
    return c == F.lit("-1")


def parse_sbs1_lines(lines: DataFrame) -> DataFrame:
    """PRJ-1..4: one SBS-1 CSV line (the ``value`` column, as
    ``spark.read.text`` and the socket source give it) → normalized
    typed message row.

    Applies the SRC-3 gate and the reference-regex validity gate, which
    rejects whole lines the way REGEXP_MSG does (e.g. altitude
    'notanumber', lowercase hexident, non-'MSG' record types); splits
    positionally (the reference's named regex groups are positional
    CSV fields), casts each field with NULL-on-failure, parses the
    split date/time pairs into UTC timestamps, trims the callsign
    (empty → NULL).
    """
    gated = validity_gate(gate_malformed(lines))
    parts = F.split(F.col("value"), ",", -1)
    fields = {name: parts.getItem(i) for i, name in enumerate(SBS1_FIELDS)}

    def ts(date_col: Column, time_col: Column) -> Column:
        # '2019/10/20' + '11:33:40.311' — reference parses with isoparser
        # and attaches UTC (adsb_parser.py:27,203-206).
        return F.try_to_timestamp(
            F.concat_ws(" ", date_col, time_col), F.lit("yyyy/MM/dd HH:mm:ss.SSS")
        )

    return gated.select(
        fields["transmission_type"].try_cast("int").alias("transmission_type"),
        fields["session"].try_cast("int").alias("session"),
        fields["aircraft"].try_cast("int").alias("aircraft"),
        fields["hexident"].alias("hexident"),
        fields["flight"].try_cast("int").alias("flight"),
        ts(fields["gen_date"], fields["gen_time"]).alias("gen_date_time"),
        ts(fields["log_date"], fields["log_time"]).alias("log_date_time"),
        F.nullif(F.trim(fields["callsign"]), F.lit("")).alias("callsign"),
        fields["altitude"].try_cast("int").alias("altitude"),
        fields["speed"].try_cast("int").alias("speed"),
        fields["track"].try_cast("int").alias("track"),
        fields["latitude"].try_cast("double").alias("latitude"),
        fields["longitude"].try_cast("double").alias("longitude"),
        fields["verticalrate"].try_cast("int").alias("verticalrate"),
        fields["squawk"].try_cast("int").alias("squawk"),
        _bool_from_wire(fields["alert"]).alias("alert"),
        _bool_from_wire(fields["emergency"]).alias("emergency"),
        _bool_from_wire(fields["spi"]).alias("spi"),
        _bool_from_wire(fields["onground"]).alias("onground"),
    )


def with_altitude_m(df: DataFrame) -> DataFrame:
    """Altitude in meters; MSG2 (no altitude field) → ground constant
    (PRJ-8, models.py:32-34,208-213)."""
    alt_m = feet2m(F.col("altitude").cast("double"))
    return df.withColumn(
        "altitude_m",
        F.when(F.col("transmission_type") == 2, F.lit(GND_ALTITUDE_M)).otherwise(
            alt_m
        ),
    )


def dispatch_fields(df: DataFrame) -> DataFrame:
    """FLT-3 (models.py:146-190): blank out fields a transmission type
    does not carry, so downstream per-session 'last non-null wins'
    accumulation (AGG-6) only sees fields the message actually updates.
    """
    out = df
    for field in ["callsign", "altitude", "speed", "track", "latitude",
                  "longitude", "verticalrate", "onground"]:
        carrying = [t for t, fs in MSG_FIELDS.items() if field in fs]
        out = out.withColumn(
            field,
            F.when(F.col("transmission_type").isin(carrying), F.col(field)),
        )
    return out


def position_validity(df: DataFrame) -> DataFrame:
    """FLT-4 (models.py:194-213): a MSG3 row yields a position only when
    lon AND lat AND altitude are all non-null; MSG2 needs lon AND lat."""
    msg3_ok = (
        (F.col("transmission_type") == 3)
        & F.col("longitude").isNotNull()
        & F.col("latitude").isNotNull()
        & F.col("altitude").isNotNull()
    )
    msg2_ok = (
        (F.col("transmission_type") == 2)
        & F.col("longitude").isNotNull()
        & F.col("latitude").isNotNull()
    )
    return df.filter(msg3_ok | msg2_ok)
