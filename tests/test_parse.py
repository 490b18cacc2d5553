"""Parser semantics vs the reference (adsb_parser.py):
NULL-on-failed-cast, empty-callsign→NULL+trim, wire booleans,
timestamp format, malformed-line and regex gates, MSG-field dispatch,
position validity."""

import datetime
import os

import pytest
from pyspark.sql import functions as F

from dump1090_postgis_spark.operators import parse

HERE = os.path.dirname(__file__)
OK = os.path.join(HERE, "fixtures", "sbs1_ok.txt")
FAULTY = os.path.join(HERE, "fixtures", "sbs1_faulty.txt")


@pytest.fixture(scope="module")
def parsed_ok(spark):
    return parse.parse_sbs1_lines(spark.read.text(OK)).collect()


def test_gate_drops_short_lines(spark):
    df = spark.read.text(FAULTY)
    assert df.count() == 5
    assert parse.gate_malformed(df).count() == 4  # truncated line dropped


def test_msg3_fields(parsed_ok):
    m = parsed_ok[0]
    assert m.transmission_type == 3
    assert m.hexident == "3C6589"
    assert m.altitude == 4500
    assert m.latitude == pytest.approx(47.3)
    assert m.longitude == pytest.approx(-1.7)
    assert m.onground is False
    assert m.gen_date_time == datetime.datetime(2024, 5, 1, 6, 0, 0)
    assert m.log_date_time == datetime.datetime(2024, 5, 1, 6, 0, 0, 100000)


def test_callsign_trim_and_null(parsed_ok):
    # MSG1 carries 'AFR123 ' → trimmed; others empty → NULL
    assert parsed_ok[1].callsign == "AFR123"
    assert parsed_ok[0].callsign is None


def test_wire_booleans(parsed_ok):
    assert parsed_ok[2].onground is True  # wire -1
    assert parsed_ok[0].onground is False  # wire 0
    # the reference's boolean lambda is `v == "-1"` — it never raises,
    # so an empty field is False, NOT NULL (adsb_parser.py:215-218)
    assert parsed_ok[3].emergency is False


def test_negative_verticalrate(parsed_ok):
    assert parsed_ok[3].verticalrate == -64
    assert parsed_ok[4].verticalrate == -640


def test_validity_gate_rejects_whole_lines(spark):
    """REGEXP_MSG parity (adsb_parser.py:176-195): altitude
    'notanumber' and non-hex hexidents (BADALT, NOPOS0) fail their
    character classes, so the reference drops the whole line — it
    never reaches the NULL-on-cast path for those."""
    rows = parse.parse_sbs1_lines(spark.read.text(FAULTY)).collect()
    hexes = {r.hexident for r in rows}
    assert hexes == {"3C6589"}  # BADALT/NOPOS0 lines rejected whole
    assert len(rows) == 2


def test_unicode_callsign_passes_gate(spark):
    """Python `re`'s \\w is Unicode-aware; (?U) gives the Java regex
    the same semantics — a non-ASCII callsign must survive the gate
    exactly as it does in the reference."""
    line = ("MSG,1,1,1,3C6589,1,2024/05/01,06:00:02.000,2024/05/01,"
            "06:00:02.100,ÖSTÛ12 ,,,,,,,,0,,0,0")
    rows = parse.parse_sbs1_lines(
        spark.createDataFrame([(line,)], "value string")
    ).collect()
    assert len(rows) == 1 and rows[0].callsign == "ÖSTÛ12"


def test_empty_field_is_null_within_valid_line(parsed_ok):
    """The cast-fail→NULL path the reference DOES reach: an empty
    altitude ('' passes [\\d-]*, int('') raises → None)."""
    msg1 = [r for r in parsed_ok if r.transmission_type == 1][0]
    assert msg1.altitude is None


def test_field_dispatch(spark):
    df = parse.dispatch_fields(parse.parse_sbs1_lines(spark.read.text(OK)))
    rows = {(r.hexident, r.transmission_type): r for r in df.collect()}
    msg4 = rows[("3C6589", 4)]
    assert msg4.speed == 150 and msg4.track == 210 and msg4.verticalrate == -64
    msg5 = rows[("3C6589", 5)]
    assert msg5.altitude == 3900 and msg5.onground is None  # MSG5 carries no onground
    msg6 = rows[("3C6589", 6)]
    assert msg6.onground is None  # MSG6 ignored entirely by state


def test_position_validity(spark):
    lines = [
        "MSG,3,1,1,3C6589,1,2024/05/01,06:02:00.000,2024/05/01,"
        "06:02:00.100,,-25,,,47.31000,-1.71000,,,0,,0,0",
        "MSG,3,1,1,00B0F0,1,2024/05/01,06:02:06.000,2024/05/01,"
        "06:02:06.100,,5000,,,,,,,0,,0,0",
    ]
    df = parse.parse_sbs1_lines(
        spark.createDataFrame([(l,) for l in lines], "value string")
    )
    assert df.count() == 2  # both lines pass the gates
    pos = parse.position_validity(df).collect()
    # 00B0F0 has altitude but no lat/lon → excluded
    assert all(r.hexident != "00B0F0" for r in pos)
    assert [r.hexident for r in pos] == ["3C6589"]


def test_altitude_m_conversion(spark):
    df = parse.with_altitude_m(parse.parse_sbs1_lines(spark.read.text(OK)))
    rows = {(r.hexident, r.transmission_type): r for r in df.collect()}
    assert rows[("3C6589", 3)].altitude_m == pytest.approx(4500 * 0.3048)
    assert rows[("3C6589", 2)].altitude_m == 0.0  # MSG2 → ground constant
