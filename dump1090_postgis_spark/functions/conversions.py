"""Unit/compass/track math (SURVEY §2.2 PRJ-5..7; reference
shared.py:5-50).

All pure Column expressions — codegen'd, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

FT_TO_M = 0.3048


def feet2m(feet: Column) -> Column:
    """shared.py:5-7."""
    return feet * F.lit(FT_TO_M)


def angle2compass(angle_deg: Column) -> Column:
    """shared.py:10-14: mathematical angle (CCW from east) → compass
    heading (CW from north): (450 - angle) % 360."""
    return F.pmod(F.lit(450.0) - angle_deg, F.lit(360.0))


def winddir2angle(winddir: Column) -> Column:
    """shared.py:10-16 literal piecewise form: 270 - dir, +360 only when
    negative (equals pmod on the documented [0,360] domain, but the
    reference does NOT wrap values that stay positive)."""
    a = F.lit(270.0) - winddir
    return F.when(a < 0.0, a + 360.0).otherwise(a)


def angle2winddir(angle: Column) -> Column:
    """shared.py:19-28 literal piecewise form: 270 - angle, -360 only
    when ABOVE 360 — negative results pass through unwrapped (e.g.
    angle 300° → -30, not 330), matching the reference exactly."""
    a = F.lit(270.0) - angle
    return F.when(a > 360.0, a - 360.0).otherwise(a)


def interpolated_track(df: DataFrame) -> DataFrame:
    """PRJ-7 (shared.py:36-50, used models.py:134-140): heading from the
    last two positions — arctan2(dlat, dlon) → degrees → compass — as
    ``interp_track``.

    Window lag over each (hexident, session_id) track in gen_date_time
    order; NULL for the first point of a track.
    """
    w = Window.partitionBy("hexident", "session_id").orderBy("gen_date_time")
    dx = F.col("longitude") - F.lag("longitude").over(w)
    dy = F.col("latitude") - F.lag("latitude").over(w)
    math_angle = F.degrees(F.atan2(dy, dx))
    return df.withColumn(
        "interp_track",
        F.when(dx.isNotNull() & dy.isNotNull(), angle2compass(math_angle)),
    )
